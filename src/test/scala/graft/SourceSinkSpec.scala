package graft

import org.apache.spark.sql.functions._
import graft.operators.Tables

/** Source/sink breadth beyond the reference's text-only IO: parquet (the
  * primary format), csv and json round-trips with schema preservation.
  */
class SourceSinkSpec extends SparkSpec {

  private def tmp(name: String): String =
    tempDir(s"graft-$name").toString + "/out"

  test("binary-file source: per-file ingestion is lossless and ids recover from paths") {
    import graft.operators.BeamParity
    val got = BeamParity.sourceBinaryRoundtrip(spark, sf)
    val meta = graft.multimodal.Multimodal.binaryMeta(spark, sf)
      .select(col("doc_id"), col("content_md5").as("want_md5"), col("n_bytes").as("want_bytes"))
    val joined = got.join(meta, "doc_id").collect()
    assert(joined.length == Tables.documents(spark, sf).count(),
      "file count != doc count (path-id recovery or glob filter broken)")
    joined.foreach { r =>
      assert(r.getAs[String]("content_md5") == r.getAs[String]("want_md5"),
        s"doc ${r.getAs[Long]("doc_id")} bytes corrupted through the file round-trip")
      assert(r.getAs[Long]("n_bytes") == r.getAs[Int]("want_bytes").toLong)
    }
  }

  test("csv round-trip preserves rows and schema (header + inferSchema)") {
    val src = Tables.nation(spark, sf)
    val path = tmp("csv")
    src.write.option("header", "true").csv(path)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    assert(back.count() == src.count())
    assert(back.columns.toSeq == src.columns.toSeq)
    assert(back.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq ==
      src.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq)
  }

  test("json round-trip preserves rows") {
    val src = Tables.region(spark, sf)
    val path = tmp("json")
    src.write.json(path)
    val back = spark.read.json(path)
    assert(back.count() == src.count())
    assert(back.select("r_name").collect().map(_.getString(0)).toSet ==
      src.select("r_name").collect().map(_.getString(0)).toSet)
  }

  test("orc round-trip preserves rows and schema") {
    val src = Tables.supplier(spark, sf)
    val path = tmp("orc")
    src.write.orc(path)
    val back = spark.read.orc(path)
    assert(back.count() == src.count())
    assert(back.schema == src.schema)
    assert(back.orderBy("s_suppkey").collect().toSeq ==
      src.orderBy("s_suppkey").collect().toSeq)
  }

  test("partitioned parquet write prunes partitions on read") {
    val src = Tables.customer(spark, sf)
    val path = tmp("part")
    src.write.partitionBy("c_mktsegment").parquet(path)
    val one = spark.read.parquet(path).filter(col("c_mktsegment") === "BUILDING")
    val p = one.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(c_mktsegment"), p)
    assert(one.count() ==
      src.filter(col("c_mktsegment") === "BUILDING").count())
  }

  test("partitioned write prunes at planning time: one lang dir scanned") {
    val df = graft.operators.BeamParity.sinkPartitionedPrune(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      "lang filter must prune directories, not scan rows")
    // the pruned scan must not carry lang as a data filter (it's a
    // directory, not a column in the files)
    assert(!plan.contains("PushedFilters: [IsNotNull(lang)"),
      "lang must be resolved as a partition column")
    val docs = Tables.documents(spark, sf)
    assert(df.agg(sum(col("n_docs"))).head.getLong(0) ==
      docs.filter(col("lang") === "en").count())
  }

  test("jsonl and csv round-trips are lossless over the full corpus") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    for (rt <- Seq(
        graft.operators.BeamParity.sourceJsonlRoundtrip(spark, sf),
        graft.operators.BeamParity.sourceCsvRoundtrip(spark, sf))) {
      assert(rt.count() == docs.count())
      assert(rt.exceptAll(docs).isEmpty && docs.exceptAll(rt).isEmpty)
    }
  }

  test("schema-evolution source merges generations; old files yield nulls") {
    val df = graft.operators.BeamParity.sourceSchemaEvolution(spark, sf)
    assert(df.columns.toSeq == Seq("lang", "n_docs", "n_with_source", "sum_chars"))
    val docs = Tables.documents(spark, sf)
    assert(df.agg(sum(col("n_docs"))).head.getLong(0) == docs.count())
    // gen1 (even ids) predates the source column → only odd ids count
    assert(df.agg(sum(col("n_with_source"))).head.getLong(0) ==
      docs.filter(pmod(col("doc_id"), lit(2)) === 1).count())
  }

  test("compaction rewrites a shattered directory into few full files, losslessly") {
    val base = tempDir("graft-compact").toString
    val inDir = s"$base/shattered"
    val outDir = s"$base/compacted"
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "source")
    docs.repartition(64).write.parquet(inDir)
    def parquetFiles(dir: String): Int =
      new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(inDir) == 64)
    // target = a quarter of the ON-DISK bytes: the planned count must track
    // compressed file sizes (the optimizer's decompressed estimate would
    // plan 3-5x fewer, larger files than asked)
    val diskBytes = new java.io.File(inDir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val planned = graft.operators.BeamParity.compactParquet(
      spark, inDir, outDir, (diskBytes / 4) max 1L)
    assert(planned >= 4 && planned <= 6, s"planned $planned files")
    assert(parquetFiles(outDir) == planned)
    val rt = spark.read.parquet(outDir)
    assert(rt.exceptAll(docs).isEmpty && docs.exceptAll(rt).isEmpty)
  }

  test("A26: per-doc .bin directory compacts to the planned file count, losslessly") {
    import org.apache.spark.sql.functions._
    // A25's write leaves one object per document; A26's planner must
    // collapse that to ceil(bytes/target) parquet files with nothing lost
    val nDocs = Tables.documents(spark, sf).count()
    val out = graft.operators.BeamParity.sourceBinaryCompacted(spark, sf)
    assert(out.count() == nDocs)
    // the .bin fixture is fingerprint-versioned — resolve it through the
    // builder instead of guessing the path (a stale unversioned /tmp dir
    // masked a wrong guess here until round 14)
    val binDir = graft.operators.BeamParity.binaryDocsDirForSpec(spark, sf)
    val binFiles = new java.io.File(binDir).listFiles.count(_.getName.endsWith(".bin"))
    assert(binFiles == nDocs, s"$binFiles .bin objects for $nDocs docs")
    val binBytes = new java.io.File(binDir).listFiles
      .filter(_.getName.endsWith(".bin")).map(_.length).sum
    val outDir = tempDir("graft-bin-compact").toString
    val planned = graft.operators.BeamParity.compactBinaryDir(
      spark, binDir, outDir, (binBytes / 3) max 1L)
    // ceil(B / floor(B/3)) is 3, or 4 when the division leaves a remainder
    assert(planned >= 3 && planned <= 4, s"planned $planned files")
    assert(new java.io.File(outDir).listFiles
      .count(_.getName.endsWith(".parquet")) == planned)
    // lossless: payload bytes hash back to the original documents
    val rt = spark.read.parquet(outDir)
      .select(col("doc_id"), md5(col("payload")).as("m"))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("m"))
    assert(rt.exceptAll(docs).isEmpty && docs.exceptAll(rt).isEmpty)
  }
}
