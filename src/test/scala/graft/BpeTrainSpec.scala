package graft

import org.apache.spark.sql.functions._
import graft.operators.BpeTrain

/** Pins in-engine BPE training (round-11 verdict item 2) against a plain
  * in-process reference trainer: greedy max-frequency pair selection with
  * overlapping adjacency counts, (count DESC, pair ASC) tie-break, and
  * left-to-right non-overlapping merge passes — the Sennrich algorithm,
  * written with none of the distributed machinery so the two
  * implementations share no code.
  */
class BpeTrainSpec extends SparkSpec {

  /** Reference trainer over raw strings. */
  private def referenceTrain(texts: Seq[String], rounds: Int): Seq[(Int, Int, Int, Long)] = {
    var seqs = texts.map(_.codePoints().toArray)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Long)]
    (0 until rounds).foreach { r =>
      val counts = scala.collection.mutable.Map.empty[(Int, Int), Long]
      seqs.foreach { arr =>
        var i = 0
        while (i < arr.length - 1) {
          val k = (arr(i), arr(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + 1
          i += 1
        }
      }
      val ((a, b), cnt) = counts.toSeq
        .sortBy { case ((x, y), c) => (-c, x.toLong * 2097152 + y) }.head
      val m = BpeTrain.MergeBase + r
      out += ((a, b, m, cnt))
      seqs = seqs.map { arr =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i < arr.length) {
          if (i + 1 < arr.length && arr(i) == a && arr(i + 1) == b) {
            buf += m; i += 2
          } else { buf += arr(i); i += 1 }
        }
        buf.toArray
      }
    }
    out.toSeq
  }

  /** Reference trainer with a boundary symbol excluded from pair counts —
    * the pre-tokenization variant, sharing no code with the engine. */
  private def referenceTrainExcluding(
      texts: Seq[String], rounds: Int, mergeBase: Int, excl: Int): Seq[(Int, Int, Int, Long)] = {
    var seqs = texts.map(_.codePoints().toArray)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Long)]
    (0 until rounds).foreach { r =>
      val counts = scala.collection.mutable.Map.empty[(Int, Int), Long]
      seqs.foreach { arr =>
        var i = 0
        while (i < arr.length - 1) {
          if (arr(i) != excl && arr(i + 1) != excl) {
            val k = (arr(i), arr(i + 1))
            counts(k) = counts.getOrElse(k, 0L) + 1
          }
          i += 1
        }
      }
      val ((a, b), cnt) = counts.toSeq
        .sortBy { case ((x, y), c) => (-c, x.toLong * 2097152 + y) }.head
      val m = mergeBase + r
      out += ((a, b, m, cnt))
      seqs = seqs.map { arr =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i < arr.length) {
          if (i + 1 < arr.length && arr(i) == a && arr(i + 1) == b) {
            buf += m; i += 2
          } else { buf += arr(i); i += 1 }
        }
        buf.toArray
      }
    }
    out.toSeq
  }

  test("H41 pre-tokenized table equals the reference; rules differ from boundary-free H33") {
    val texts = graft.operators.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0)).toSeq
    // independent pre-tokenization with the same public pattern
    val pretok = texts.map(_.replaceAll(BpeTrain.PretokRe, "$0" + BpeTrain.PretokSep))
    val expected = referenceTrainExcluding(
      pretok, BpeTrain.Rounds, BpeTrain.MergeBasePretok, BpeTrain.PretokSepCp)
    val got = BpeTrain.trainMergesPretok(spark, sf).orderBy("round").collect()
      .map(r => (r.getAs[Long]("sym_a").toInt, r.getAs[Long]("sym_b").toInt,
        r.getAs[Long]("merged").toInt, r.getAs[Long]("n_pairs")))
    assert(got.length == BpeTrain.Rounds)
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"round ${i + 1}: engine $g vs reference $e")
    }
    // no learned rule may touch the boundary marker
    assert(got.forall { case (a, b, _, _) =>
      a != BpeTrain.PretokSepCp && b != BpeTrain.PretokSepCp })
    // pre-tokenization must CHANGE what is learned (the structural claim):
    // the (a, b) rule sequences diverge from the boundary-free table
    val plain = BpeTrain.trainMerges(spark, sf).orderBy("round").collect()
      .map(r => (r.getAs[Long]("sym_a").toInt, r.getAs[Long]("sym_b").toInt))
    assert(got.map(g => (g._1, g._2)).toSeq != plain.toSeq,
      "pre-tokenized merges identical to boundary-free merges — boundary had no effect")
  }

  test("H42 pretok fertility reconciles with a reference re-application per document") {
    val rules = BpeTrain.trainMergesPretok(spark, sf).orderBy("round").collect()
      .map(r => (r.getAs[Long]("sym_a").toInt, r.getAs[Long]("sym_b").toInt,
        r.getAs[Long]("merged").toInt))
    val docs = graft.operators.Tables.documents(spark, sf)
      .select("source", "text").collect().map(r => (r.getString(0), r.getString(1)))
    // reference: pre-tokenize, apply the learned chain, count non-marker symbols
    val refBySource = docs.groupBy(_._1).map { case (src, ds) =>
      src -> ds.map { case (_, text) =>
        var arr = text.replaceAll(BpeTrain.PretokRe, "$0" + BpeTrain.PretokSep)
          .codePoints().toArray
        rules.foreach { case (a, b, m) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
          var i = 0
          while (i < arr.length) {
            if (i + 1 < arr.length && arr(i) == a && arr(i + 1) == b) { buf += m; i += 2 }
            else { buf += arr(i); i += 1 }
          }
          arr = buf.toArray
        }
        arr.count(_ != BpeTrain.PretokSepCp).toLong
      }.sum
    }
    val got = BpeTrain.fertilityPretok(spark, sf)
      .groupBy("source").agg(sum("bpe_tokens").as("nb")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == refBySource && got.nonEmpty,
      s"pretok token totals: engine $got vs reference $refBySource")
  }

  test("learned table equals the reference trainer's, round for round") {
    val texts = graft.operators.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0)).toSeq
    val expected = referenceTrain(texts, BpeTrain.Rounds)
    val got = BpeTrain.trainMerges(spark, sf).orderBy("round").collect()
      .map(r => (r.getAs[Long]("sym_a").toInt, r.getAs[Long]("sym_b").toInt,
        r.getAs[Long]("merged").toInt, r.getAs[Long]("n_pairs")))
    assert(got.length == BpeTrain.Rounds)
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"round ${i + 1}: engine $g vs reference $e")
    }
    // training must COMPOUND: at least one learned rule merges a symbol
    // that is itself a merge product (the multi-generation property the
    // fixed H18b table hand-built)
    assert(expected.exists { case (a, b, _, _) =>
      a >= BpeTrain.MergeBase || b >= BpeTrain.MergeBase },
      "no compounding merge in the learned table — rounds too few for this corpus")
  }

  test("learned token counts equal a reference re-application of the learned table") {
    val rules = BpeTrain.trainMerges(spark, sf).orderBy("round").collect()
      .map(r => (r.getAs[Long]("sym_a").toInt, r.getAs[Long]("sym_b").toInt,
        r.getAs[Long]("merged").toInt))
    val got = BpeTrain.learnedTokens(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.operators.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
    assert(docs.length == got.size && docs.nonEmpty)
    docs.foreach { row =>
      var arr = row.getString(1).codePoints().toArray
      rules.foreach { case (a, b, m) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i < arr.length) {
          if (i + 1 < arr.length && arr(i) == a && arr(i + 1) == b) { buf += m; i += 2 }
          else { buf += arr(i); i += 1 }
        }
        arr = buf.toArray
      }
      assert(got(row.getLong(0)) == arr.length.toLong,
        s"doc ${row.getLong(0)}: engine ${got(row.getLong(0))} vs reference ${arr.length}")
    }
    // learning must actually compress: total learned tokens < total codepoints
    val totTokens = got.values.sum
    val totCps = docs.map(r => r.getString(1).codePointCount(0, r.getString(1).length).toLong).sum
    assert(totTokens < totCps, s"no compression: $totTokens tokens vs $totCps codepoints")
  }

  test("stored artifact: retraining is skipped while the corpus fingerprint holds") {
    val first = BpeTrain.trainMerges(spark, sf).collect().toSeq
    // second call must serve the same stored table (same location, same rows)
    val second = BpeTrain.trainMerges(spark, sf).collect().toSeq
    assert(first == second && first.nonEmpty)
  }

  test("H38 coverage reconciles with per-doc learned counts; compression non-vacuous") {
    val cov = BpeTrain.vocabCoverage(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_codepoints"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("merged_bps"))).toMap
    assert(cov.nonEmpty)
    // totals must equal the gated per-doc counts aggregated by source
    val docs = graft.operators.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val perDoc = BpeTrain.learnedTokens(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val (cp, tok, bps) = cov(src)
      assert(cp == ds.map(d => d._3.codePointCount(0, d._3.length).toLong).sum,
        s"$src codepoints")
      assert(tok == ds.map(d => perDoc(d._1)).sum, s"$src tokens")
      assert(bps == 10000 * (cp - tok) / cp, s"$src bps")
      assert(bps > 0, s"$src: learned merges compressed nothing")
    }
  }

  test("packing under the learned table: chunk conservation vs the fixed-table packer") {
    val packs = BpeTrain.packBpeLearned(spark, sf).collect()
    assert(packs.nonEmpty)
    val nChunks = packs.map(_.getAs[Long]("n_chunks")).sum
    val direct = graft.operators.CorpusClean.ops("corpus_pack_bpe").run(spark, sf)
      .agg(sum("n_chunks")).head.getLong(0)
    assert(nChunks == direct, "learned packing lost or duplicated chunks")
  }

  test("H54 id emission round-trips: detokenize(encode(text)) == text on planted docs") {
    import SparkSpecBase.spark.implicits._
    // planted rule table with a CASCADED merge (rule 3 consumes rule 1's
    // symbol) — detokenization must expand recursively
    val ra = Seq('a'.toInt, 'c'.toInt, 0xE100)
    val rb = Seq('b'.toInt, 'd'.toInt, 'c'.toInt)
    val rm = Seq(0xE100, 0xE101, 0xE102)
    val docs = Seq("abcdabcab", "aabbccdd", "xyzzy", "abc", "")
    val syms = docs.filter(_.nonEmpty).toDF("text")
      .select(explode(graft.plans.BpeDynamic.symbolsCol(col("text"), ra, rb, rm)))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    val enc = docs.filter(_.nonEmpty).toDF("text")
      .select(col("text"),
        graft.plans.BpeDynamic.encodeIdsCol(col("text"), ra, rb, rm, syms).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    // the cascade actually fired: "abcdabcab" -> E100 E101 E102 E100
    // (the E102 comes from rule 3 consuming rule 1's output symbol)
    assert(enc("abcdabcab") == Seq(0xE100, 0xE101, 0xE102, 0xE100).map(syms.indexOf),
      s"cascaded merge missing: ${enc("abcdabcab")}")
    enc.foreach { case (text, ids) =>
      assert(BpeTrain.detokenize(ids, syms, ra, rb, rm) == text,
        s"round-trip broke for '$text': $ids")
      assert(ids.forall(id => id >= 0 && id < syms.length), "id out of vocab range")
    }
    // and on the real corpus artifacts: the gated frame reconciles with a
    // direct detokenization of a few sampled docs
    val (lra, lrb, lrm) = BpeTrain.learnedRules(spark, sf)
    val docsDf = graft.operators.Tables.documents(spark, sf)
      .filter(char_length(col("text")) > 0).limit(5)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vocab = graft.operators.Tables.documents(spark, sf)
      .filter(char_length(col("text")) > 0)
      .select(explode(graft.plans.BpeDynamic.symbolsCol(col("text"), lra, lrb, lrm)))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    val encoded = graft.operators.Tables.documents(spark, sf)
      .filter(char_length(col("text")) > 0)
      .filter(col("doc_id").isin(docsDf.keys.toSeq: _*))
      .select(col("doc_id"),
        graft.plans.BpeDynamic.encodeIdsCol(col("text"), lra, lrb, lrm, vocab).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(encoded.nonEmpty)
    encoded.foreach { case (id, ids) =>
      assert(BpeTrain.detokenize(ids, vocab, lra, lrb, lrm) == docsDf(id),
        s"corpus round-trip broke for doc $id")
    }
  }
}
