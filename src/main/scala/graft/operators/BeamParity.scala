package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Exact._
import graft.SparkEntry.Op

/** A-block (SURVEY §2): the reference's transform surface, re-expressed as
  * declarative Spark so Catalyst owns the physical plan. Each query is the
  * DataFrame realization; the `Pipe` DSL in graft.pipeline carries the
  * API-level parity (DoFn lifecycle, CombineFn, side-input views).
  */
object BeamParity {

  /** A24 — small-file compaction: rewrite a directory of many undersized
    * parquet files into ~`targetFileBytes` files. The file count comes from
    * the ACTUAL on-disk byte total of the input files (one filesystem
    * listing, no data read) — the optimizer's `stats.sizeInBytes` is a
    * DECOMPRESSED in-memory estimate that would undershoot the target by
    * the parquet compression ratio (often 3-5×) and emit files several
    * times larger than asked. The rewrite is one round-robin
    * repartition — no key skew possible by construction. The
    * background maintenance every streaming/micro-batch sink needs at
    * 100 TB: small files are the #1 lakehouse read-amplification problem.
    * Returns the planned file count (spec-verified; no SQL twin — the
    * observable is the output LAYOUT, not a row set).
    */
  def compactParquet(s: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long): Int = {
    val df = s.read.parquet(inDir)
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(s.sparkContext.hadoopConfiguration)
    var totalBytes = 0L
    val it = fs.listFiles(in, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      // data files only: "_"-prefixed (_SUCCESS, _metadata) AND "."-prefixed
      // (the .part-*.crc checksums ChecksumFileSystem writes on file://
      // paths) are metadata — counting them inflates the byte total
      if (!n.startsWith("_") && !n.startsWith(".")) totalBytes += f.getLen
    }
    val nFiles = (((totalBytes + targetFileBytes - 1) /
      targetFileBytes) max 1L).toInt
    df.repartition(nFiles).write.mode("overwrite").parquet(outDir)
    nFiles
  }

  /** A1 Create — in-memory source (reference: transform_evaluators.py:16). */
  def createValues(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Seq((1L, "alpha"), (2L, "bravo"), (3L, "charlie"), (4L, "delta"), (5L, "echo"))
      .toDF("id", "name")
  }

  /** A3 source scan with pushdown: projection + predicate reach parquet. */
  def sourceScanPushdown(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** A4 ParDo/Map — per-element computation as codegen'd column exprs
    * (reference evaluates a Python fn per element; here it's one IEEE
    * multiply inside whole-stage codegen).
    */
  def pardoMap(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))

  /** A5 ParDo/FlatMap — explode(split) instead of a per-element generator. */
  def pardoFlatmap(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))

  /** A6 ParDo/Filter — predicate pushed to the scan. */
  def pardoFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_discount") >= 0.05 && col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))

  /** A8 Flatten — union, partition concatenation, no shuffle
    * (reference: sc.union, transform_evaluators.py:84).
    */
  def flattenUnion(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_name").as("name"), lit("customer").as("side"))
    val sup = Tables.supplier(s, d)
      .select(col("s_name").as("name"), lit("supplier").as("side"))
    c.union(sup).orderBy("side", "name")
  }

  /** A9 GroupByKey — values per key, sorted for determinism. The reference's
    * groupByKey().mapValues(list) has nondeterministic value order; we
    * canonicalize with sort_array so the oracle can hash-match.
    */
  def groupByKey(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(array_join(sort_array(collect_list(col("o_orderkey"))), ",").as("orderkeys"))

  /** A10 CombinePerKey — groupBy.agg gives Catalyst partial (map-side)
    * aggregation, the contract the reference builds with aggregateByKey.
    */
  def combinePerKey(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))

  /** A11 CombineGlobally — one global aggregate, partials per partition. */
  def combineGlobal(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))

  /** A12 custom CombineFn — price-weighted average quantity per return flag,
    * via the typed Aggregator in the Pipe DSL (decimal-exact accumulators so
    * the oracle matches bit-for-bit).
    */
  def combineAggregator(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.{CombineFn, Pipe}
    import graft.pipeline.Pipe._
    val fn = new CombineFn[(Double, Double), (BigDecimal, BigDecimal), Double] {
      def createAccumulator(): (BigDecimal, BigDecimal) = (BigDecimal(0), BigDecimal(0))
      def addInput(a: (BigDecimal, BigDecimal), in: (Double, Double)) =
        (a._1 + BigDecimal(in._1).setScale(4, BigDecimal.RoundingMode.HALF_UP) *
          BigDecimal(in._2).setScale(4, BigDecimal.RoundingMode.HALF_UP),
         a._2 + BigDecimal(in._2).setScale(4, BigDecimal.RoundingMode.HALF_UP))
      def mergeAccumulators(a: (BigDecimal, BigDecimal), b: (BigDecimal, BigDecimal)) =
        (a._1 + b._1, a._2 + b._2)
      def extractOutput(a: (BigDecimal, BigDecimal)): Double =
        BigDecimal((a._1.toDouble / a._2.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val keyed = Pipe(Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .as[(String, Double, Double)])
      .map { case (f, q, p) => (f, (q, p)) }
    keyed.combinePerKey(fn).ds.toDF("l_returnflag", "wavg_qty")
  }

  /** A13 AsSingleton side input — scalar threshold broadcast into the plan
    * (scalar subquery; never collected to the driver mid-pipeline).
    */
  def sideSingleton(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val thr = o.agg((dsum(col("o_totalprice")) / count(lit(1))).as("thr"))
    o.join(broadcast(thr))
      .filter(col("o_totalprice") > col("thr"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
  }

  /** A14 AsDict side input — broadcast hash join on the small dim. */
  def sideDictJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))

  /** A15 AsList side input — membership filter as a broadcast semi-join. */
  def sideListFilter(s: SparkSession, d: String): DataFrame = {
    val asiaNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    Tables.customer(s, d)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
  }

  /** A2+A16 as ONE gated round-trip: documents are formatted as
    * `doc_id<TAB>text` lines, written through the Pipe DSL's WriteToText
    * (Beam `part-SSSSS-of-NNNNN` shard naming, round-robin shards), read
    * back through ReadFromText, and parsed — the oracle is simply the
    * documents table, so the gate hash-verifies that the text sink/source
    * pair loses nothing. TAB is safe: corpus text is single-space word
    * soup (and the gate would catch any drift). The sink dir is
    * deterministic per data dir and overwritten per call, so repeated runs
    * don't accumulate garbage.
    */
  def sinkTextRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.Pipe
    val dir = graft.Artifacts.scratchDir(s, d, "sink_rt")
    val lines = Tables.documents(s, d)
      .select(concat_ws("\t", col("doc_id"), col("text")).as("line"))
      .as[String]
    Pipe(lines).writeText(dir.toString, 4)
    Pipe.readText(s, dir.toString).ds
      .select(
        substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        expr("substring(value, instr(value, '\t') + 1)").as("text"))
  }

  /** A18 — schema-evolution parquet source: two file "generations" with
    * different schemas (gen1 wrote (doc_id, text, lang); gen2 added
    * (source, n_chars)) read as ONE dataset via mergeSchema — the 100 TB
    * reality where years of files predate later columns. Schema merge is a
    * footer-level union (no data rewrite); old files surface the new
    * columns as nulls, and the aggregate distinguishes them with non-null
    * counts. Generations land under a deterministic tmp dir, overwritten
    * per call like [[sinkTextRoundtrip]].
    */
  def sourceSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Artifacts.scratchDir(s, d, "schema_ev")
    val docs = Tables.documents(s, d)
    docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), col("text"), col("lang"))
      .write.parquet(new org.apache.hadoop.fs.Path(dir, "gen1").toString)
    docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .write.parquet(new org.apache.hadoop.fs.Path(dir, "gen2").toString)
    s.read.option("mergeSchema", "true")
      .parquet(new org.apache.hadoop.fs.Path(dir, "gen1").toString,
        new org.apache.hadoop.fs.Path(dir, "gen2").toString)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("source")).as("n_with_source"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** A20 — Hive-style partitioned layout + partition-pruned read: documents
    * written `partitionBy("lang")` (one directory per language — THE layout
    * decision that makes a 100 TB corpus queryable: a single-language query
    * touches only that language's files), then read back filtered to one
    * lang. The catalog prunes at planning time from directory names alone —
    * the scan node lists the predicate under `PartitionFilters`, zero data
    * or footer reads for other partitions (spec-asserted on the executed
    * plan). The partition column round-trips via directory name, not data
    * pages, so it's dropped from the files and re-derived on read.
    */
  def sinkPartitionedPrune(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Artifacts.scratchDir(s, d, "part_prune")
    Tables.documents(s, d)
      .write.partitionBy("lang").parquet(dir.toString)
    s.read.parquet(dir.toString)
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** A21 — JSONL (newline-delimited JSON) round-trip: the interchange format
    * most raw training-data drops arrive in. Written with spark's JSON sink,
    * read back with an EXPLICIT schema — schema inference costs a full extra
    * pass over 100 TB and is nondeterministic across file orders, so the
    * scale contract is schema-on-read, never infer. Escaping (quotes,
    * backslashes, control chars) is exercised by whatever the corpus
    * contains; the oracle hash-verifies losslessness.
    */
  def sourceJsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Artifacts.scratchDir(s, d, "jsonl_rt")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .write.json(dir.toString)
    s.read.schema("doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT")
      .json(dir.toString)
  }

  /** A22 — CSV round-trip with explicit schema and full quoting: header
    * off (a 100 TB directory has thousands of files; headers are per-file
    * noise the reader must skip), quote-all on write so embedded commas /
    * quotes / newlines in text survive, multiLine on read to accept quoted
    * newlines. Same schema-on-read contract as A21.
    */
  def sourceCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Artifacts.scratchDir(s, d, "csv_rt")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .write.option("quoteAll", "true").option("escape", "\"").csv(dir.toString)
    s.read.schema("doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT")
      .option("escape", "\"").option("multiLine", "true")
      .csv(dir.toString)
  }

  /** A23 — ORC round-trip: the second columnar format a lakehouse ingests
    * (Spark's native ORC datasource — vectorized reader, predicate pushdown,
    * column pruning, same as parquet). Explicit schema-on-read like A21/A22;
    * the oracle hash-verifies losslessness of the full documents table
    * through the format, including multi-line UTF-8 text.
    */
  def sourceOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Artifacts.scratchDir(s, d, "orc_rt")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .write.orc(dir.toString)
    s.read.schema("doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT")
      .orc(dir.toString)
  }

  /** A25 — binary-file DIRECTORY ingestion (`binaryFile` datasource): the
    * shape every multimodal pipeline starts from — a store full of media
    * files, not rows in a table. One `.bin` file per document is exported
    * by a per-partition writer (executor-local java.nio, no driver
    * funnel), then read back through Spark's binaryFile source, which
    * yields (path, modificationTime, length, content) with the record id
    * recovered from the file NAME — the join key convention of image/audio
    * corpora. The gate verifies losslessness byte-for-byte: per-file
    * length + md5(content) against the originating table. At 100 TB the
    * source parallelizes over files (maxPartitionBytes-bounded groups) and
    * supports pathGlobFilter/recursiveFileLookup pruning; the small-file
    * pressure it creates is exactly what A24's compaction planner measures.
    */
  /** The A25/A26 shared writer: one `.bin` object per document, written
    * through the Hadoop FileSystem API RESOLVED FROM THE PATH (r10 advice
    * item 4) — on a shared/remote filesystem the executor-side writes land
    * where the driver-planned binaryFile read will see them, which the
    * previous executor-local java.nio writes could not guarantee off a
    * single machine. (Executors resolve the FS from the DRIVER's Hadoop
    * configuration, broadcast as a SerializableConfiguration — so driver-
    * only settings like object-store credentials and custom FS impls
    * travel with the write.)
    *
    * The directory is the operator's INPUT FIXTURE — a binary object store
    * standing in for the media corpus a user already has — so it is built
    * ONCE per documents-table fingerprint ([[graft.Artifacts.stored]])
    * instead of
    * delete-and-rewritten per call: A25/A26 measure binary INGESTION, and
    * regenerating 1-file-per-document scaffolding each run was charging
    * every bench rep ~N metadata round-trips of non-operator work (the
    * round-11 42 s regression on this key).
    */
  private def writeBinaryDocs(s: SparkSession, d: String): String =
    graft.Artifacts.stored(s, "binary_docs", d, Seq("documents.parquet")) { dirStr =>
      // executors resolve the FS from the DRIVER's Hadoop configuration
      // (broadcast via SerializableConfiguration) — a fresh Configuration()
      // would drop driver-only settings (object-store credentials, s3a
      // endpoints, custom FS impls) and could land writes on the wrong
      // filesystem off the local/core-site deployments
      val confB = s.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          s.sparkContext.hadoopConfiguration))
      Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .foreachPartition { rows: java.util.Iterator[org.apache.spark.sql.Row] =>
          val base = new org.apache.hadoop.fs.Path(dirStr)
          val fs = base.getFileSystem(confB.value.value)
          rows.forEachRemaining { r =>
            val out = fs.create(
              new org.apache.hadoop.fs.Path(base, s"doc_${r.getLong(0)}.bin"), true)
            try out.write(r.getAs[Array[Byte]](1)) finally out.close()
          }
        }
    }

  /** Spec accessor: the fingerprint-versioned .bin fixture location (the
    * spec must not guess the fp suffix — it did until round 14, passing
    * only while a stale unversioned dir survived in /tmp). */
  private[graft] def binaryDocsDirForSpec(s: SparkSession, d: String): String =
    writeBinaryDocs(s, d)

  def sourceBinaryRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dirStr = writeBinaryDocs(s, d)
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dirStr)
      .select(
        regexp_extract(col("path"), "doc_([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
  }

  /** A26 — binary ingestion COMPACTED (round-10 verdict item 6): the
    * per-object `.bin` directory A25 leaves behind is exactly the
    * small-file shape A24 exists to fix, so compose them — plan the output
    * file count from the ACTUAL on-disk byte total of the `.bin` objects
    * (A24's listing-based planner, generalized off parquet input), ingest
    * the directory once through binaryFile, and rewrite it as a
    * target-sized parquet blob table (doc_id, payload). The gate reads the
    * COMPACTED table back and must hash-match the same documents oracle as
    * A25 — proving the rewrite is lossless — while SourceSinkSpec pins the
    * file-count collapse itself.
    */
  val BinCompactTargetBytes: Long = 64L * 1024

  def compactBinaryDir(s: SparkSession, binDir: String, outDir: String,
      targetFileBytes: Long): Int = {
    // byte total comes from the binaryFile SCAN itself (one distributed
    // read, persisted across the size pass and the rewrite) — NOT a
    // driver-side fs.listFiles walk: Hadoop's RawLocalFileSystem loads
    // per-file permissions by FORKING a shell per entry, which made the
    // old listing ~5 ms × |files| of pure driver time (24 s at sf0.1),
    // and a driver directory walk is the wrong shape at 100 TB anyway.
    val bin = graft.CacheScope.scopedPersist(
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(binDir)
        .select(
          regexp_extract(col("path"), "doc_([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
          col("content").as("payload"), col("length").as("len")))
    val totalBytes = bin.agg(sum(col("len"))).head.getLong(0)
    val nFiles = (((totalBytes + targetFileBytes - 1) /
      targetFileBytes) max 1L).toInt
    val out = bin.select(col("doc_id"), col("payload")).repartition(nFiles)
    graft.CacheScope.releaseAfterUse(out, bin)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  def sourceBinaryCompacted(s: SparkSession, d: String): DataFrame = {
    val binDir = writeBinaryDocs(s, d)
    val outDir = graft.Artifacts.scratchDir(s, d, "bin_compact").toString
    compactBinaryDir(s, binDir, outDir, BinCompactTargetBytes)
    s.read.parquet(outDir)
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_md5"))
  }

  /** The compacted blob TABLE as a reusable source (doc_id, payload) —
    * the G-block flagship (`mm_prepare`) ingests from here, closing the
    * loop from a binary file store through compaction into the image
    * pipeline. Built once per (corpus, fingerprint) like
    * [[writeBinaryDocs]]; A26's gate separately proves the rewrite
    * lossless against the documents oracle. */
  private[graft] def compactedBlobs(s: SparkSession, d: String): DataFrame = {
    val loc = graft.Artifacts.stored(s, "binary_blobs", d, Seq("documents.parquet")) { dir =>
      val binDir = writeBinaryDocs(s, d)
      compactBinaryDir(s, binDir, dir, BinCompactTargetBytes)
    }
    graft.Artifacts.parquet(s, loc).select(col("doc_id"), col("payload"))
  }

  /** A28 — Beam's Partition transform through the Pipe DSL: route users
    * 3 ways by id residue, reduce each output pipe independently, and
    * reassemble the per-partition counts. The A17 auto-cache makes the
    * 3-way fan-out one scan of the upstream; the gate proves the Beam
    * contract end-to-end (disjoint + exhaustive: the per-part counts must
    * sum to exactly the groupBy the oracle runs).
    */
  def pipePartition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.Pipe
    val users = Pipe(Tables.events(s, d).select(col("user_id")).as[Long])
    val parts = users.partition(3)(u => (u % 3).toInt)
    val out = parts.zipWithIndex.map { case (p, i) =>
      p.ds.toDF("user_id")
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .select(lit(i.toLong).as("part"), col("n_events"), col("n_users"))
    }.reduce(_ unionByName _)
    // the n-way fan-out auto-persists the shared upstream (the advice-fixed
    // exactly-one-output guarantee); no CacheScope.run is open here, so that
    // persist is untracked and released after THIS query's first action
    graft.CacheScope.releaseAfterUse(out, users.ds)
  }

  /** A29 — Beam's WindowInto composing with CombinePerKey in the Pipe DSL
    * (round-11 verdict item 6): SLIDING (hopping) 1h/30min windows over the
    * event stream, per-type count + exact sum — the windowing attaches to
    * the GROUPING (Beam's model), the multi-window assignment is
    * elementwise, and the combine keeps Catalyst's map-side partial
    * aggregation because (key, window) is just more key. Gate: the SAME
    * DuckDB oracle as the DataFrame-native C1b — the DSL and the native
    * operator must agree row for row. Sum exactness is the dsum
    * discipline: units accumulate as longs ([[graft.plans.ScaledLong
    * .scale]]), one final division.
    */
  def pipeWindowAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.pipeline._
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"), unix_micros(col("ts")).as("ts_us"))
      .as[(String, Double, Long)]
    val out = Pipe(ev)
      .windowInto(SlidingWindows(3600L * 1000000, 1800L * 1000000))(_._3)
      .combinePerKey(_._1)(
        new CombineFn[(String, Double, Long), (Long, Long), (Long, Long)] {
          def createAccumulator(): (Long, Long) = (0L, 0L)
          def addInput(a: (Long, Long), t: (String, Double, Long)): (Long, Long) =
            (a._1 + 1, a._2 + graft.plans.ScaledLong.scale(t._2, 10000.0))
          def mergeAccumulators(a: (Long, Long), b: (Long, Long)): (Long, Long) =
            (a._1 + b._1, a._2 + b._2)
          def extractOutput(a: (Long, Long)): (Long, Long) = a
        })
      .map { case (k, ws, _, (n, units)) => (k, ws, n, units) }
    out.ds.toDF("event_type", "ws", "n", "units")
      .select(timestamp_micros(col("ws")).as("window_start"), col("event_type"),
        col("n"), (col("units").cast("double") / 10000.0).as("sum_value"))
  }

  /** A30 — Beam's MERGING session windows through the same DSL surface:
    * per-user 30-minute-gap sessions via windowInto(Sessions) +
    * combinePerKey (the merge happens at grouping time, like Beam's
    * merging WindowFns — fixed/sliding assignment is elementwise, sessions
    * are a per-key sorted gap-split). Gate: the SAME oracle as the
    * DataFrame-native C2 sessionization.
    */
  def pipeWindowSession(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.pipeline._
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
    val out = Pipe(ev)
      .windowInto(Sessions(1800L * 1000000))(_._2)
      .combinePerKey(_._1)(new CombineFn[(Long, Long), (Long, Long), (Long, Long)] {
        def createAccumulator(): (Long, Long) = (Long.MinValue, 0L)
        def addInput(a: (Long, Long), t: (Long, Long)): (Long, Long) =
          (math.max(a._1, t._2), a._2 + 1)
        def mergeAccumulators(a: (Long, Long), b: (Long, Long)): (Long, Long) =
          (math.max(a._1, b._1), a._2 + b._2)
        def extractOutput(a: (Long, Long)): (Long, Long) = a
      })
      .map { case (u, ws, _, (lastTs, n)) => (u, ws, lastTs, n) }
    out.ds.toDF("user_id", "ws", "last_ts", "n_events")
      .select(col("user_id"),
        timestamp_micros(col("ws")).as("session_start"),
        timestamp_micros(col("last_ts")).as("session_end"),
        col("n_events"))
  }

  /** A31 — PERMISSIVE JSONL ingestion with corrupt-record QUARANTINE
    * (round-12): the error handling every real ingest pipeline needs and
    * the reference's runner simply crashes on — malformed lines land in
    * Spark's `_corrupt_record` column instead of failing the job, and the
    * gate proves BOTH sides of the split: parsed-row accounting AND a
    * digest of exactly the quarantined raw lines. The fixture is a genuine
    * JSONL file (one canonical integer-rendered object per event; every
    * event_id ≡ 0 mod 17 written WITHOUT its closing brace — deterministic
    * from the data, so the oracle reconstructs the corrupt lines from the
    * events table without touching the file). Built once per corpus
    * fingerprint (the A25 fixture discipline).
    */
  private def jsonlFixture(s: SparkSession, d: String): String =
    graft.Artifacts.stored(s, "jsonl_fixture", d, Seq("events.parquet")) { dir =>
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      val vu = column(graft.plans.ScaledLong(
        expression(col("value").cast("double")), 10000.0))
      Tables.events(s, d)
        .select(concat(
          lit("{\"event_id\":"), col("event_id"),
          lit(",\"user_id\":"), col("user_id"),
          lit(",\"vu\":"), vu,
          when(pmod(col("event_id"), lit(17L)) === 0, lit("")).otherwise(lit("}")))
          .as("line"))
        .coalesce(1).write.mode("overwrite").text(dir)
    }

  def sourceJsonlQuarantine(s: SparkSession, d: String): DataFrame = {
    val parsed = s.read
      .schema("event_id BIGINT, user_id BIGINT, vu BIGINT, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(jsonlFixture(s, d))
    parsed.agg(
      count(when(col("_corrupt").isNull, 1)).as("n_parsed"),
      count(col("_corrupt")).as("n_corrupt"),
      sum(when(col("_corrupt").isNull, col("event_id"))).as("parsed_id_sum"),
      expr("md5(array_join(transform(array_sort(" +
        "collect_list(_corrupt)), x -> x), ','))").as("corrupt_md5"))
  }

  val sourceJsonlQuarantineSql: String = s"""
    WITH src AS (
      SELECT event_id, user_id,
        ${graft.plans.ScaledLong.sql("value", "10000.0")} AS vu
      FROM events),
    corrupt AS (
      SELECT concat('{"event_id":', event_id, ',"user_id":', user_id,
        ',"vu":', vu) AS line
      FROM src WHERE event_id % 17 = 0)
    SELECT
      (SELECT COUNT(*) FROM src WHERE event_id % 17 <> 0) AS n_parsed,
      (SELECT COUNT(*) FROM corrupt) AS n_corrupt,
      (SELECT CAST(SUM(event_id) AS BIGINT) FROM src WHERE event_id % 17 <> 0) AS parsed_id_sum,
      (SELECT md5(array_to_string(list(line ORDER BY line), ','))
       FROM corrupt) AS corrupt_md5"""

  val ops: Map[String, Op] = Map(
    // the DSL's windowed forms gate against the SAME oracles as the
    // DataFrame-native C1b/C2 operators: two independent implementations,
    // one replay — the strongest parity statement available
    "pipe_window_agg" -> Op(pipeWindowAgg _, Relational.ops("events_hopping_agg").oracle),
    "source_jsonl_quarantine" -> Op(sourceJsonlQuarantine _, sourceJsonlQuarantineSql),
    "pipe_window_session" -> Op(pipeWindowSession _, Relational.ops("events_session").oracle),
    "sink_text_roundtrip" ->
      Op(sinkTextRoundtrip _, "SELECT doc_id, text FROM documents ORDER BY doc_id"),
    "source_schema_evolution" -> Op(sourceSchemaEvolution _, """
      SELECT lang, COUNT(*) AS n_docs,
        COUNT(CASE WHEN doc_id % 2 = 1 THEN source END) AS n_with_source,
        CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang ORDER BY lang"""),
    "sink_partitioned_prune" -> Op(sinkPartitionedPrune _, """
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents WHERE lang = 'en' GROUP BY source ORDER BY source"""),
    // payload is exactly text's UTF-8 bytes, so DuckDB's VARCHAR md5/strlen
    // see the same bytes the binary file holds (the G1 discipline)
    "pipe_partition" -> Op(pipePartition _, """
      SELECT CAST(user_id % 3 AS BIGINT) AS part,
        COUNT(*) AS n_events,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1 ORDER BY 1"""),
    "source_binary_roundtrip" -> Op(sourceBinaryRoundtrip _, """
      SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        md5(text) AS content_md5
      FROM documents ORDER BY doc_id"""),
    "source_binary_compacted" -> Op(sourceBinaryCompacted _, """
      SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        md5(text) AS content_md5
      FROM documents ORDER BY doc_id"""),
    "source_jsonl_roundtrip" ->
      Op(sourceJsonlRoundtrip _, "SELECT doc_id, text, lang, n_chars FROM documents ORDER BY doc_id"),
    "source_orc_roundtrip" ->
      Op(sourceOrcRoundtrip _, "SELECT doc_id, text, lang, n_chars FROM documents ORDER BY doc_id"),
    "source_csv_roundtrip" ->
      Op(sourceCsvRoundtrip _, "SELECT doc_id, text, lang, n_chars FROM documents ORDER BY doc_id"),
    "create_values" ->
      Op(createValues _, "SELECT * FROM (VALUES (CAST(1 AS BIGINT),'alpha'),(2,'bravo'),(3,'charlie'),(4,'delta'),(5,'echo')) t(id, name) ORDER BY id"),
    "source_scan_pushdown" ->
      Op(sourceScanPushdown _, "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0 ORDER BY o_orderkey"),
    "pardo_map" ->
      Op(pardoMap _, "SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS revenue FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "pardo_flatmap" ->
      Op(pardoFlatmap _, "SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents WHERE doc_id < 50 ORDER BY doc_id, word"),
    "pardo_filter" ->
      Op(pardoFilter _, "SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem WHERE l_discount >= 0.05 AND l_quantity < 10 ORDER BY l_orderkey, l_linenumber"),
    "flatten_union" ->
      Op(flattenUnion _, "SELECT c_name AS name, 'customer' AS side FROM customer UNION ALL SELECT s_name, 'supplier' FROM supplier ORDER BY side, name"),
    "group_by_key" ->
      Op(groupByKey _, "SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orderkeys FROM orders GROUP BY o_custkey ORDER BY o_custkey"),
    "combine_per_key" ->
      Op(combinePerKey _, s"SELECT user_id, COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value FROM events GROUP BY user_id ORDER BY user_id"),
    "combine_global" ->
      Op(combineGlobal _, s"SELECT COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty, MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty FROM lineitem"),
    "combine_aggregator" ->
      Op(combineAggregator _, """SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 6) AS wavg_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    "side_singleton" ->
      Op(sideSingleton _, s"""SELECT o_orderstatus, COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
          FROM orders
          WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*) FROM orders)
          GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    "side_dict_join" ->
      Op(sideDictJoin _, s"""SELECT n_name, COUNT(*) AS n_customers, ${sqlDsum("c_acctbal")} AS sum_acctbal
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name ORDER BY n_name"""),
    "side_list_filter" ->
      Op(sideListFilter _, """SELECT c_mktsegment, COUNT(*) AS n FROM customer
         WHERE c_nationkey IN (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  )
}
