package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {

  test("audio energy: frame accounting, peak invariants, independent recount") {
    val out = Multimodal.audioEnergy(spark, sf)
    val meta = Multimodal.binaryMeta(spark, sf).select(col("doc_id"), col("n_bytes"))
    // independent total recount: Σ byte² via a SQL aggregate over the chars
    val recount = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), expr(
        "aggregate(sequence(1, length(text)), 0L, " +
          "(a, i) -> a + CAST(ascii(substring(text, i, 1)) AS LONG) * ascii(substring(text, i, 1)))")
        .as("tot2"))
    val joined = out.join(meta, "doc_id").join(recount, "doc_id").collect()
    assert(joined.nonEmpty)
    val fb = Multimodal.AudioFrameBytes
    joined.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_frames") == (r.getAs[Int]("n_bytes") + fb - 1) / fb,
        s"doc $id frame count")
      assert(r.getAs[Long]("total_energy") == r.getAs[Long]("tot2"), s"doc $id energy")
      assert(r.getAs[Long]("peak_energy") <= r.getAs[Long]("total_energy"))
      assert(r.getAs[Long]("peak_frame") < r.getAs[Long]("n_frames"))
      assert(r.getAs[Long]("peak_energy") > 0)
    }
    // frames genuinely vary on this corpus (docs span the frame boundary)
    assert(joined.map(_.getAs[Long]("n_frames")).distinct.length > 1)
  }

  test("G12 downsample: decimated signal matches a local boxcar replay, tail block exact") {
    val out = Multimodal.audioDownsample(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_samples"), r.getAs[Long]("n_out"),
          r.getAs[Long]("ds_energy"), r.getAs[Long]("ds_checksum"))).toMap
    val docs = graft.operators.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).filter(_._2.nonEmpty)
    assert(docs.length == out.size && docs.nonEmpty)
    val dd = Multimodal.AudioDecimation
    docs.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val nOut = (bytes.length + dd - 1) / dd
      var energy = 0L
      var checksum = 0L
      for (k <- 0 until nOut) {
        val end = math.min(k * dd + dd, bytes.length)
        var sum = 0L
        for (i <- k * dd until end) sum += (bytes(i) & 0xFF).toLong
        val m = sum / (end - k * dd)
        energy += m * m
        checksum += m * (k + 1L)
      }
      val (ns, no, e, c) = out(id)
      assert(ns == bytes.length && no == nOut, s"doc $id sizes")
      assert(e == energy && c == checksum, s"doc $id signal mismatch")
    }
    // tail blocks genuinely exercised: some doc's length is not a multiple
    // of the decimation factor
    assert(docs.exists(_._2.getBytes("UTF-8").length % dd != 0))
  }

  test("G2 image features: parsed dims + channel sums match a local decode replay") {
    val out = Multimodal.imageFeatures(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[Long]("sum_r"), r.getAs[Long]("sum_g"), r.getAs[Long]("sum_b")))
      .toMap
    assert(out.nonEmpty)
    val docs = graft.operators.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).filter(_._2.nonEmpty)
    assert(docs.length == out.size)
    val n = Multimodal.ImgGrid * Multimodal.ImgGrid * Multimodal.ImgChannels
    docs.foreach { case (id, text) =>
      // independent replay: stride samples → PPM encode → LOCAL decode →
      // channel sums (exercises Codecs outside the Catalyst wrapper too)
      val codes = Array.tabulate(n)(i =>
        text.charAt(((i.toLong * text.length) / n).toInt).toInt)
      val raster = graft.multimodal.Codecs.decodePpm(
        graft.multimodal.Codecs.encodePpm(graft.multimodal.Codecs.Raster(
          Multimodal.ImgGrid, Multimodal.ImgGrid, 3, 255, codes)))
      assert(raster.width == Multimodal.ImgGrid && raster.height == Multimodal.ImgGrid)
      val sums = Array(0L, 0L, 0L)
      raster.pixels.zipWithIndex.foreach { case (v, i) => sums(i % 3) += v }
      val (w, h, sr, sg, sb) = out(id)
      assert((w, h) == (Multimodal.ImgGrid, Multimodal.ImgGrid), s"doc $id dims")
      assert((sr, sg, sb) == (sums(0), sums(1), sums(2)), s"doc $id channel sums")
    }
  }

  test("G4 resize: identity-layout raster resolves the exact nearest-neighbor map") {
    import SparkSpecBase.spark.implicits._
    val g = Multimodal.ImgGrid; val ch = Multimodal.ImgChannels
    val t = Multimodal.ResizeTarget
    val n = g * g * ch
    // text of EXACTLY n chars makes StrideSample the identity, so the
    // raster is known byte-for-byte and the resize is hand-computable
    val rnd = new scala.util.Random(11)
    val text = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val dir = tempDir("graft-resize").toString
    Seq((1L, text)).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val row = Multimodal.imageResize(spark, dir).collect().head
    assert(row.getAs[Int]("src_w") == g && row.getAs[Int]("src_h") == g)
    val expected = for {
      dy <- 0 until t; dx <- 0 until t; c <- 0 until ch
    } yield text.charAt(((dy * g / t) * g + (dx * g / t)) * ch + c).toInt
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(row.getAs[String]("resized_md5") == md, "resized raster bytes diverge")
  }

  test("G11 augmentation: group structure (flip²=id, rot⁴=id) and hand-computed crop") {
    import SparkSpecBase.spark.implicits._
    val g = Multimodal.ImgGrid; val ch = Multimodal.ImgChannels
    val n = g * g * ch
    val rnd = new scala.util.Random(23)
    val text = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val dir = tempDir("graft-aug").toString
    Seq((1L, text)).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val row = Multimodal.imageAugment(spark, dir).collect().head
    // identity-layout raster: replay all three transforms by hand
    def pix(x: Int, y: Int, c: Int): Int = text.charAt((y * g + x) * ch + c).toInt
    def md5Of(vals: Seq[Int]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(vals.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString
    val flip = for (y <- 0 until g; x <- 0 until g; c <- 0 until ch)
      yield pix(g - 1 - x, y, c)
    assert(row.getAs[String]("flip_md5") == md5Of(flip), "flip index map diverges")
    val rot = for (y <- 0 until g; x <- 0 until g; c <- 0 until ch)
      yield pix(y, g - 1 - x, c)
    assert(row.getAs[String]("rot90_md5") == md5Of(rot), "rot90 index map diverges")
    val cr = Multimodal.AugCrop; val off = (g - cr) / 2
    val crop = for (y <- 0 until cr; x <- 0 until cr; c <- 0 until ch)
      yield pix(off + x, off + y, c)
    assert(row.getAs[String]("crop_md5") == md5Of(crop), "crop index map diverges")
    // group structure directly on the kernel: flip²=id, rot90⁴=id
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val dec = new GenericArrayData(
      (Array(g, g, 255) ++ (0 until n).map(i => text.charAt(i).toInt)).map(Int.box(_): Any))
    def t(a: org.apache.spark.sql.catalyst.util.ArrayData, op: Int) = {
      val r = graft.plans.MediaCodecs.rasterTransform(a, op, 0)
      new GenericArrayData(
        (Array(g, g, 255) ++ (0 until n).map(r.getInt)).map(Int.box(_): Any))
    }
    def pixels(a: org.apache.spark.sql.catalyst.util.ArrayData) =
      (0 until n).map(i => a.getInt(3 + i))
    assert(pixels(t(t(dec, 0), 0)) == pixels(dec), "flip is not an involution")
    assert(pixels(t(t(t(t(dec, 1), 1), 1), 1)) == pixels(dec), "rot90^4 != id")
  }

  test("frame sampling keeps every 4th 256-char frame") {
    val df = Multimodal.frameSample(spark, sf)
    val perDoc = df.groupBy("doc_id").agg(count(lit(1)).as("n"),
        max(col("frame_idx")).as("max_idx")).collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { r => assert(r.getLong(2) % 4 == 0) }
    // deterministic across runs
    assert(df.collect().toSeq == Multimodal.frameSample(spark, sf).collect().toSeq)
  }

  test("G4 resize output is deterministic and carries parsed source dims") {
    val rows = Multimodal.imageResize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("src_w") == Multimodal.ImgGrid)
      assert(r.getAs[Int]("src_h") == Multimodal.ImgGrid)
      assert(r.getAs[Int]("dst_edge") == Multimodal.ResizeTarget)
    }
    assert(rows.toSeq == Multimodal.imageResize(spark, sf).collect().toSeq)
  }

  test("binary meta magic_hex is the first 4 bytes") {
    val r = Multimodal.binaryMeta(spark, sf).limit(1).collect().head
    assert(r.getString(3).length == 8)
  }

  test("phash near-dup pairs: canonical orientation, bounded hamming, nonempty") {
    val rows = Multimodal.phashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty, "no phash near-dups at test SF — operator vacuous")
    assert(rows.forall { case (a, b, h) =>
      a < b && h >= 0 && h <= Multimodal.PhashHamT })
    // multi-index banding must not emit duplicates after the distinct
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
  }

  test("phash mega-bucket cap: identical payloads degrade to a star, not all-pairs") {
    // m identical payloads share every band value; above the cap the bucket
    // must emit m-1 representative edges instead of C(m,2) — hamming 0, so
    // all survive verification and connectivity is preserved
    import SparkSpecBase.spark.implicits._
    val dir = tempDir("graft-phash-mega").toString
    val m = 300L
    val text = (1 to 30).map(_ => "same words here").mkString(" ") // >= 64 chars
    (0L until m).map(i => (i, text)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    spark.conf.set("graft.dedup.maxBandBucket", "50")
    try {
      val rows = Multimodal.phashDedup(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.length == (m - 1),
        s"expected star (${m - 1} edges), got ${rows.length}")
      assert(rows.forall { case (a, b, h) => a == 0L && b > 0L && h == 0 })
    } finally spark.conf.unset("graft.dedup.maxBandBucket")
  }

  test("phash width: explicit 64-bit conf matches the default gate output") {
    val dflt = Multimodal.phashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    spark.conf.set("graft.phash.bits", "64")
    try {
      val explicit = Multimodal.phashDedup(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(explicit == dflt && dflt.nonEmpty)
    } finally spark.conf.unset("graft.phash.bits")
  }

  test("phash width: banding stays exact at 128 bits (quadratic replay)") {
    // the pigeonhole guarantee must survive the multi-word signature: the
    // banded pair set at 128 bits equals the exact quadratic hamming join
    // over the same signatures. The sf corpus's planted near-dups perturb
    // >8/128 samples (T=8 is a stricter RELATIVE radius at 128 bits), so
    // plant dups here: random docs plus exact-duplicate and lightly
    // perturbed copies.
    import SparkSpecBase.spark.implicits._
    val dir = tempDir("graft-phash-exact").toString
    val rnd = new scala.util.Random(7)
    def txt() = (0 until 256).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val base = (0 until 100).map(i => (i.toLong, txt()))
    val dups = (0 until 20).map { i =>          // exact copies: hamming 0
      (100L + i, base(i)._2)
    }
    val near = (0 until 20).map { i =>          // 2-char perturbations
      val chars = base(20 + i)._2.toCharArray
      chars(40) = if (chars(40) == 'z') 'y' else (chars(40) + 1).toChar
      chars(200) = if (chars(200) == 'z') 'y' else (chars(200) + 1).toChar
      (200L + i, new String(chars))
    }
    (base ++ dups ++ near).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    spark.conf.set("graft.phash.bits", "128")
    try {
      val banded = Multimodal.phashDedup(spark, dir)
        .select("doc_a", "doc_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val sig = Multimodal.phashSignatures(spark, dir)
      val exact = sig.select(col("doc_id").as("doc_a"), col("ph").as("pa"))
        .join(sig.select(col("doc_id").as("doc_b"), col("ph").as("pb")),
          col("doc_a") < col("doc_b"))
        .withColumn("hamming", expr(
          "bit_count(element_at(pa, 1) ^ element_at(pb, 1)) + " +
            "bit_count(element_at(pa, 2) ^ element_at(pb, 2))"))
        .filter(col("hamming") <= Multimodal.PhashHamT)
        .select("doc_a", "doc_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == exact, s"banded ${banded.size} != exact ${exact.size}")
      assert(exact.nonEmpty, "no 128-bit near-dups at test SF — claim vacuous")
    } finally spark.conf.unset("graft.phash.bits")
  }

  test("phash width: 128-bit bands stay selective where 64-bit bands saturate") {
    // seeded random corpus with NO true near-dups: every banding candidate
    // is a false positive. 64-bit banding (7-8-bit bands) collides by
    // chance across C(m,2) pairs; 128-bit banding (14-15-bit bands) is
    // ~128x more selective per band — the width lever the scaladoc claims.
    import SparkSpecBase.spark.implicits._
    val dir = tempDir("graft-phash-wide").toString
    val rnd = new scala.util.Random(42)
    val m = 400
    (0 until m).map { i =>
      (i.toLong, (0 until 256).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    }.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val cand64 = Multimodal.phashCandidates(spark, dir).count()
    val out64 = Multimodal.phashDedup(spark, dir).count()
    spark.conf.set("graft.phash.bits", "128")
    try {
      val cand128 = Multimodal.phashCandidates(spark, dir).count()
      val out128 = Multimodal.phashDedup(spark, dir).count()
      assert(out64 == 0 && out128 == 0,
        s"random docs produced 'near-dups': 64→$out64, 128→$out128")
      assert(cand64 > 100, s"64-bit saturation premise vacuous: $cand64 candidates")
      assert(cand128 * 5 < cand64,
        s"128-bit bands not selective: $cand128 candidates vs $cand64 at 64-bit")
    } finally spark.conf.unset("graft.phash.bits")
  }

  test("G6: same-scene frame pairs always found at hamming 0, bounded hammings") {
    import org.apache.spark.sql.functions._
    val nDocs = graft.operators.Tables.documents(spark, sf).count()
    val rows = Multimodal.frameDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // the two planted same-scene pairs (0,4) and (8,12) are identical
    // frames: hamming 0, present for EVERY document
    val zeroPairs = rows.filter(r => r._4 == 0 &&
      ((r._2, r._3) == (0L, 4L) || (r._2, r._3) == (8L, 12L)))
    assert(zeroPairs.map(_._1).distinct.length == nDocs &&
      zeroPairs.length >= 2 * nDocs,
      s"${zeroPairs.length} zero pairs over ${nDocs} docs")
    // all reported pairs are same-video, ordered, within the radius
    rows.foreach { case (_, fa, fb, h) =>
      assert(fa < fb && h >= 0 && h <= Multimodal.PhashHamT)
    }
  }

  test("G8 2-D pHash: brightness-invariant, rotation-covariant with exact " +
      "permutation distance") {
    import SparkSpecBase.spark.implicits._
    import org.apache.spark.sql.functions._
    val g = Multimodal.Phash2dGrid
    // a 32x32 raster: left half bright ('z'), right half dark ('a') —
    // length exactly g*g makes StrideSample the identity layout
    val a = Array.tabulate(g * g)(i => if (i % g < g / 2) 'z' else 'a')
    val bright = a.map(c => (c + 1).toChar)        // +1 every pixel
    val rot = Array.tabulate(g * g) { i =>          // 90° rotation
      val r = i / g; val c = i % g; a((g - 1 - c) * g + r)
    }
    val dir = tempDir("graft-phash2d").toString
    Seq((1L, new String(a)), (2L, new String(bright)), (3L, new String(rot)))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // base entities carry eid = 2*doc_id
    val sig = Multimodal.phash2dSignatures(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).head).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    // brightness: +k on every pixel shifts each block sum by k·16 and the
    // total by k·1024, which cancels exactly in bs*64 > tot — hamming 0
    assert(ham(sig(2L), sig(4L)) == 0, "brightness shift must not move the hash")
    // rotation: bits PERMUTE (left-half-set -> top-half-set); overlap is
    // one quadrant (16 bits), so the distance is exactly 32+32-2*16 = 32 —
    // pHash is NOT rotation-invariant and the envelope is pinned, not
    // papered over
    assert(ham(sig(2L), sig(6L)) == 32,
      s"rotation distance ${ham(sig(2L), sig(6L))}, expected the exact permutation distance 32")
  }

  test("G8 planted raster variants are all recovered within the hamming radius") {
    import org.apache.spark.sql.functions._
    val nDocs = graft.operators.Tables.documents(spark, sf)
      .filter(char_length(col("text")) >= 64).count()
    val pairs = Multimodal.phash2dDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Int]("hamming")))
    val planted = pairs.filter { case (x, y, _) => y == x + 1 && x % 2 == 0 }
    assert(planted.length == nDocs, s"${planted.length} of $nDocs planted pairs found")
    // edits are row-varying: both exact copies (brightness only) and
    // nonzero-distance variants must occur
    assert(planted.exists(_._3 == 0) && planted.exists(_._3 > 0))
    pairs.foreach { case (x, y, h) =>
      assert(x < y && h <= Multimodal.PhashHamT)
    }
  }
  test("G13 mm_prepare: keep decisions, cross-format pairs, shard monotonicity") {
    import org.apache.spark.sql.functions._
    val out = Multimodal.mmPrepare(spark, sf).collect()
      .map(r => (r.getAs[Long]("entity_id"), r.getAs[String]("fmt"),
        r.getAs[Long]("cluster_size"), r.getAs[Long]("quality"),
        r.getAs[Long]("sum_pix"), r.getAs[Long]("shard_id")))
    val nDocs = graft.operators.BeamParity.compactedBlobs(spark, sf)
      .filter(char_length(col("payload").cast("string")) >= 64).count()
    assert(out.nonEmpty && out.length <= nDocs,
      s"${out.length} kept of ${2 * nDocs} entities — dedup must drop at least the planted twins")
    // every planted (2d, 2d+1) twin pair sits within the hamming radius by
    // construction, so at most one of each pair survives
    val kept = out.map(_._1).toSet
    kept.foreach { e =>
      val twin = if (e % 2 == 0) e + 1 else e - 1
      assert(!kept.contains(twin), s"both twins $e/$twin kept")
    }
    // all three containers appear among kept representatives (the format
    // sniff really dispatched three ways)
    val fmts = out.map(_._2).toSet
    assert(fmts == Set("png", "jpeg", "pgm"), s"kept formats: $fmts")
    // cluster sizes cover the twins (>= 2 somewhere), quality nonnegative
    assert(out.forall(_._3 >= 1) && out.exists(_._3 >= 2))
    assert(out.forall(_._4 >= 0L))
    // shard ids: nondecreasing in entity order, and they match the prefix
    // sum of sum_pix under the budget
    val byId = out.sortBy(_._1)
    var cum = 0L
    byId.foreach { case (e, _, _, _, sp, sh) =>
      assert(sh == cum / Multimodal.MmShardPix, s"entity $e shard $sh != ${cum / Multimodal.MmShardPix}")
      cum += sp
    }
  }

  test("G13 mm_prepare: the distributed CC branch equals the driver-local one") {
    def rows(): Seq[String] = Multimodal.mmPrepare(spark, sf).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq
    val local = rows()
    val scratch = tempDir("graft-mm-labels").toFile
    withConf("graft.dedup.ccLocalMaxEdges" -> "0", "graft.scratch.dir" -> scratch.toString) {
      // two calls serve one stored labels generation
      Seq(rows(), rows()).foreach(dist => assert(local.nonEmpty && dist == local))
      assert(graft.Gate.taken.contains("graft.dedup.ccLocalMaxEdges:over"))
      val labelDirs = scratch.list().filter(_.startsWith("graft_mm_prepare_labels"))
      assert(labelDirs.length == 1, labelDirs.mkString(", "))
    }
  }

  test("G9 scene cuts fire only at the scene boundary and somewhere in the corpus") {
    val res = Multimodal.sceneCuts(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getAs[Long]("n_frames") == Multimodal.FrameDedupFrames.toLong)
      // frames within a scene are identical (hamming 0): the ONLY possible
      // cut is the single scene change at frame index FrameDedupScene
      assert(r.getAs[Long]("n_cuts") <= 1L)
      if (r.getAs[Long]("n_cuts") == 1L)
        assert(r.getAs[Long]("first_cut_idx") == Multimodal.FrameDedupScene.toLong,
          s"cut off the scene boundary for doc ${r.getAs[Long]("doc_id")}")
    }
    // non-vacuous: some documents' scenes differ by more than the threshold
    assert(res.exists(_.getAs[Long]("n_cuts") == 1L), "no cuts anywhere")
    assert(res.exists(_.getAs[Long]("n_cuts") == 0L),
      "every doc cut - threshold not discriminating")
  }

  test("G10 silence trim finds exactly the planted quiet lead and tail") {
    val rows = Multimodal.audioSilenceTrim(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // planted: doc_id%5 whole quiet frames prepended -> lead is EXACT
      assert(r.getAs[Long]("lead_silence") == id % 5,
        s"doc $id lead ${r.getAs[Long]("lead_silence")} != ${id % 5}")
      // the boundary frame mixes text and padding: a nearly-full mix frame
      // reads loud (tail = planted - 1), a nearly-empty final text frame
      // reads quiet (tail = planted + 1) - both are CORRECT trims of the
      // actual byte stream, so the envelope is planted +/- 1
      val tail = r.getAs[Long]("tail_silence")
      assert(tail >= math.max(0L, id % 3 - 1) && tail <= id % 3 + 1,
        s"doc $id tail $tail outside planted envelope ${id % 3} +/- 1")
      assert(r.getAs[Long]("kept_frames") ==
        r.getAs[Long]("n_frames") - r.getAs[Long]("lead_silence") - tail)
    }
    // the plant actually varies: every lead residue appears
    assert(rows.map(_.getAs[Long]("lead_silence")).distinct.length == 5)
  }

}
