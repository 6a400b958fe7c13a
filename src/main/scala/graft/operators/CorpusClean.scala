package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.SparkEntry.Op

/** Flagship composite: the corpus-cleaning pipeline a training-data run
  * actually executes, end to end in ONE declarative plan —
  *
  *   quality gate (ratio features) -> language filter (langid heuristic)
  *   -> exact dedup (normalized fingerprint, keep smallest doc_id)
  *
  * Catalyst fuses the whole thing: one scan of documents, the quality and
  * language expressions run inside the scan's codegen stage, and only the
  * dedup needs a shuffle (on the fingerprint). 100 TB scaling = the same
  * plan with more partitions.
  */
object CorpusClean {

  val MinChars = 100
  val MinAlpha = 0.5
  val MaxSpace = 0.4

  /** THE cleaning gates, defined once over the scored columns every stage
    * computes (text / alpha_ratio / space_ratio / pred_lang): corpus_clean,
    * corpus_prepare, and the H24 funnel all filter through these single
    * definitions — adding or changing a gate term lands in every consumer
    * and its oracle at once, so the funnel audit cannot drift from the
    * pipeline it describes.
    */
  def gateQuality: Column =
    length(col("text")) >= MinChars &&
      col("alpha_ratio") >= MinAlpha && col("space_ratio") <= MaxSpace
  def gateLang: Column = col("pred_lang") === "en"
  val gateQualitySql: String =
    s"(length(text) >= $MinChars AND alpha_ratio >= $MinAlpha AND space_ratio <= $MaxSpace)"
  val gateLangSql: String = "(pred_lang = 'en')"

  def corpusClean(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .withColumn("alpha_ratio", alphaRatio(col("text")))
      .withColumn("space_ratio", spaceRatio(col("text")))
      .withColumn("pred_lang", langId(col("text")))
      .withColumn("fp", fingerprint(col("text")))
    val cleaned = scored
      .filter(gateQuality && gateLang)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    cleaned
      .select(col("doc_id"), col("pred_lang"),
        col("alpha_ratio"), col("space_ratio"), col("n_chars"))
  }

  val corpusCleanSql: String = s"""
    WITH scored AS (
      SELECT doc_id, n_chars, text,
        ${alphaRatioSql("text")} AS alpha_ratio,
        ${spaceRatioSql("text")} AS space_ratio,
        ${langIdSql("text")} AS pred_lang,
        ${fingerprintSql("text")} AS fp
      FROM documents),
    cleaned AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM scored
      WHERE $gateQualitySql AND $gateLangSql)
    SELECT doc_id, pred_lang, alpha_ratio, space_ratio, n_chars
    FROM cleaned WHERE rn = 1 ORDER BY doc_id"""

  /** Token accounting per predicted language — the "how many tokens do we
    * have" query every training run starts with. One scan, one k-row agg
    * (k = number of languages); at 100 TB this is the cheapest possible
    * shape: map-side partial sums into a 6-row result.
    */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("lang", langId(col("text")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokens(col("text")).cast("long")).as("ws_tokens"),
        sum(bpeTokens(col("text")).cast("long")).as("bpe_tokens"))

  val tokenStatsSql: String = s"""
    SELECT ${langIdSql("text")} AS lang, COUNT(*) AS n_docs,
      CAST(SUM(${wsTokensSql("text")}) AS BIGINT) AS ws_tokens,
      CAST(SUM(${bpeTokensSql("text")}) AS BIGINT) AS bpe_tokens
    FROM documents GROUP BY 1 ORDER BY 1"""

  /** H18 — token BUDGET accounting per (source, lang): what a data team
    * actually consumes when planning a training run. Training budgets are
    * tokenizer tokens, and the tokenizer isn't in the engine — so emit the
    * exact bases (code points, UTF-8 bytes, whitespace tokens, word-regex
    * tokens), a deterministic byte-level BPE proxy (per-doc ceil(bytes/3.5)
    * in exact integer arithmetic — modern BPE vocabularies land near
    * 3.5–4 bytes/token on English web text), AND the mini-BPE count
    * (`minibpe_tokens`): one exact merge round of a fixed 256-pair
    * vocabulary ([[graft.functions.TextFunctions.miniBpeMerges]]) — unlike
    * the length proxy it responds to the corpus's actual bigram statistics
    * and is replayed exactly by the oracle. Any consumer calibrates its own
    * tokenizer against these columns. One scan → |sources|×|langs| partial-
    * agg rows, the cheapest possible shape at 100 TB.
    */
  def tokenBudget(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("lang", langId(col("text")))
      .withColumn("b", octet_length(col("text")))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(col("b").cast("long")).as("n_bytes"),
        sum(wsTokens(col("text")).cast("long")).as("ws_tokens"),
        sum(bpeTokens(col("text")).cast("long")).as("word_tokens"),
        sum(expr("CAST((b * 2 + 6) DIV 7 AS BIGINT)")).as("bpe_est"),
        sum(miniBpeTokens(col("text")).cast("long")).as("minibpe_tokens"),
        // the K-round merge count (H18b) — the tokenizer-shaped number a
        // budget should actually key on; kept alongside the cheaper bases
        sum(bpeTokensK(col("text")).cast("long")).as("bpek_tokens"))

  val tokenBudgetSql: String = s"""
    SELECT source, ${langIdSql("text")} AS lang, COUNT(*) AS n_docs,
      CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
      CAST(SUM(${wsTokensSql("text")}) AS BIGINT) AS ws_tokens,
      CAST(SUM(${bpeTokensSql("text")}) AS BIGINT) AS word_tokens,
      CAST(SUM((strlen(text) * 2 + 6) // 7) AS BIGINT) AS bpe_est,
      CAST(SUM(${miniBpeTokensSql("text")}) AS BIGINT) AS minibpe_tokens,
      CAST(SUM(${bpeTokensKSql("text")}) AS BIGINT) AS bpek_tokens
    FROM documents GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Eval-set n-gram decontamination: drop training docs sharing ANY 5-word
    * shingle with the eval set (doc_id < EvalDocs stands in for the eval
    * corpus). The eval gram set is small BY DEFINITION, so it broadcasts and
    * the corpus is scanned once — per-batch cost tracks the corpus, the
    * probe side stays O(eval).
    */
  val EvalDocs = 10
  val DecontaminationGram = 5

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.plans.ShingleArray.shingles(col("text"), DecontaminationGram).as("g5"))
    val evalGrams = sh.filter(col("doc_id") < EvalDocs)
      .select(explode(col("g5")).as("g")).distinct()
    val contaminated = sh.filter(col("doc_id") >= EvalDocs)
      .select(col("doc_id"), explode(col("g5")).as("g"))
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
    sh.filter(col("doc_id") >= EvalDocs)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
  }

  /** H47 — SURGICAL span decontamination (round-13; the PaLM-style
    * refinement of H2): instead of dropping a contaminated document
    * entirely, cut only the words covered by eval-overlapping 5-grams —
    * the policy that keeps a long clean document with one quoted benchmark
    * sentence. Every training doc's POSITIONAL 5-grams (i → words
    * [i, i+4]) probe the broadcast eval-gram set; removed words = the
    * UNION of hit spans (overlapping hits merge by construction — covered
    * indices are deduped, not summed). The report row per doc pins the
    * whole cut decision: span hits, words removed, words kept. All
    * integer; one training scan + the broadcast eval side; the per-doc
    * aggregation shuffles (doc_id, index) pairs bounded by hits × 5.
    */
  def decontaminateSpans(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.documents(s, d)
    val evalGrams = raw.filter(col("doc_id") < EvalDocs)
      .select(explode(graft.plans.ShingleArray.shingles(
        col("text"), DecontaminationGram)).as("g"))
      .distinct()
    val train = raw.filter(col("doc_id") >= EvalDocs)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"), col("ws"))
    val hits = train
      .select(col("doc_id"), explode(expr(
        s"CASE WHEN size(ws) >= $DecontaminationGram THEN " +
          s"transform(sequence(0, size(ws) - $DecontaminationGram), " +
          s"i -> struct(i AS i, concat_ws(' ', slice(ws, i + 1, $DecontaminationGram)) AS g)) " +
          "ELSE array() END")).as("h"))
      .select(col("doc_id"), col("h.i").as("i"), col("h.g").as("g"))
      .join(broadcast(evalGrams), "g")
    val removed = hits
      .select(col("doc_id"), col("i"),
        explode(expr(s"sequence(i, i + ${DecontaminationGram - 1})")).as("w"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("i")).as("n_spans_hit"),
        countDistinct(col("w")).as("words_removed"))
    train.select(col("doc_id"), col("n_words"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_spans_hit"), lit(0L)).as("n_spans_hit"),
        coalesce(col("words_removed"), lit(0L)).as("words_removed"),
        (col("n_words") - coalesce(col("words_removed"), lit(0L))).as("words_kept"))
  }

  val decontaminateSpansSql: String = s"""
    WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    esh AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
                       for i in range(1, len(ws) - 3)]) AS s
      FROM w WHERE len(ws) >= 5),
    ev AS (SELECT DISTINCT unnest(s) AS g FROM esh WHERE doc_id < $EvalDocs),
    tr AS (SELECT doc_id, ws, len(ws) AS n_words FROM w WHERE doc_id >= $EvalDocs),
    pos AS (
      SELECT doc_id, unnest(range(0, n_words - ${DecontaminationGram - 1})) AS i, ws
      FROM tr WHERE n_words >= $DecontaminationGram),
    tsh AS (
      SELECT doc_id, i,
        array_to_string(ws[i + 1 : i + $DecontaminationGram], ' ') AS g
      FROM pos),
    hits AS (SELECT t.doc_id, t.i FROM tsh t JOIN ev ON ev.g = t.g),
    cov AS (
      SELECT doc_id, unnest(range(i, i + $DecontaminationGram)) AS wd, i
      FROM hits),
    agg AS (
      SELECT doc_id, COUNT(DISTINCT i) AS n_spans_hit,
        COUNT(DISTINCT wd) AS words_removed
      FROM cov GROUP BY 1)
    SELECT tr.doc_id, CAST(tr.n_words AS BIGINT) AS n_words,
      CAST(COALESCE(agg.n_spans_hit, 0) AS BIGINT) AS n_spans_hit,
      CAST(COALESCE(agg.words_removed, 0) AS BIGINT) AS words_removed,
      CAST(tr.n_words - COALESCE(agg.words_removed, 0) AS BIGINT) AS words_kept
    FROM tr LEFT JOIN agg ON agg.doc_id = tr.doc_id
    ORDER BY tr.doc_id"""

  val decontaminateSql: String = s"""
    WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
    sh AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
                       for i in range(1, len(ws) - 3)]) AS s
      FROM w WHERE len(ws) >= 5),
    ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < $EvalDocs),
    contaminated AS (
      SELECT DISTINCT c.doc_id FROM sh c, ev
      WHERE c.doc_id >= $EvalDocs AND list_contains(c.s, ev.g))
    SELECT doc_id FROM documents
    WHERE doc_id >= $EvalDocs AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ORDER BY doc_id"""

  /** Deterministic stratified sample — the training-mix primitive: quality
    * tiers sampled at different rates (high keeps all, mid half, low a
    * fifth), selection by a doc_id residue so the sample is reproducible and
    * needs NO shuffle (pure filter, scales embarrassingly).
    */
  def sampleMix(s: SparkSession, d: String): DataFrame = {
    val tier = when(col("alpha_ratio") >= 0.825, "high")
      .when(col("alpha_ratio") >= 0.818, "mid")
      .otherwise("low")
    val rate = when(col("tier") === "high", 10)
      .when(col("tier") === "mid", 5)
      .otherwise(2)
    Tables.documents(s, d)
      .withColumn("alpha_ratio", alphaRatio(col("text")))
      .withColumn("tier", tier)
      .filter(pmod(col("doc_id"), lit(10)) < rate)
      .select(col("doc_id"), col("tier"), col("alpha_ratio"))
  }

  val sampleMixSql: String = s"""
    WITH scored AS (
      SELECT doc_id, ${alphaRatioSql("text")} AS alpha_ratio,
        CASE WHEN ${alphaRatioSql("text")} >= 0.825 THEN 'high'
             WHEN ${alphaRatioSql("text")} >= 0.818 THEN 'mid'
             ELSE 'low' END AS tier
      FROM documents)
    SELECT doc_id, tier, alpha_ratio FROM scored
    WHERE doc_id % 10 < (CASE tier WHEN 'high' THEN 10 WHEN 'mid' THEN 5 ELSE 2 END)
    ORDER BY doc_id"""

  /** Document chunking for training: overlapping word windows of
    * `ChunkTokens` with stride `ChunkStride` (10-word overlap) — pure
    * per-row explode, no shuffle; chunk k exists iff k*stride < n_words.
    * Each chunk carries its token count and a content fingerprint.
    */
  val ChunkTokens = 100
  val ChunkStride = 90

  def chunk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (n_words - 1) DIV $ChunkStride), " +
            s"k -> slice(ws, k * $ChunkStride + 1, $ChunkTokens))"))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))

  val chunkSql: String = s"""
    WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    k AS (SELECT doc_id, ws,
            unnest(range(((len(ws) - 1) // $ChunkStride) + 1)) AS chunk_idx
          FROM w)
    SELECT doc_id, chunk_idx,
      len(ws[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkTokens]) AS n_tokens,
      md5(array_to_string(ws[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkTokens], ' ')) AS chunk_md5
    FROM k ORDER BY doc_id, chunk_idx"""

  /** Sequence packing: chunks are concatenated in (doc_id, chunk_idx) order
    * into fixed `PackBudget`-token packs, boundary chunks crossing into the
    * next pack (concat-style packing). Packing state is a running sum, done
    * as a WINDOW over `PackGroups` independent streams (doc_id residue) —
    * each group packs in parallel, no global single-partition sort, which is
    * how a 1000-executor run would shard packing anyway.
    */
  val PackBudget = 2048
  val PackGroups = 32

  def pack(s: SparkSession, d: String): DataFrame = {
    val grpW = Window.partitionBy(col("grp")).orderBy(col("doc_id"), col("chunk_idx"))
    chunk(s, d)
      .withColumn("grp", pmod(col("doc_id"), lit(PackGroups.toLong)))
      .withColumn("cum_before",
        sum(col("n_tokens").cast("long")).over(grpW) - col("n_tokens"))
      .withColumn("pack_seq", expr(s"cum_before DIV $PackBudget"))
      .groupBy(col("grp"), col("pack_seq"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens").cast("long")).as("n_tokens"))
  }

  val packSql: String = s"""
    WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    k AS (SELECT doc_id, ws,
            unnest(range(((len(ws) - 1) // $ChunkStride) + 1)) AS chunk_idx
          FROM w),
    c AS (SELECT doc_id, chunk_idx,
            len(ws[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkTokens]) AS n_tokens
          FROM k),
    g AS (SELECT doc_id, chunk_idx, n_tokens, doc_id % $PackGroups AS grp FROM c),
    cum AS (SELECT grp, n_tokens,
              SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id, chunk_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
            FROM g)
    SELECT grp, CAST(cum_before // $PackBudget AS BIGINT) AS pack_seq,
      COUNT(*) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM cum GROUP BY 1, 2 ORDER BY 1, 2"""

  /** H50 — PACKING-EFFICIENCY audit (round-13; H5's honest-measurement
    * consumer): the table that says what the packer actually costs — pack
    * count vs the LP lower bound ⌈total/budget⌉, mean fill, and how many
    * packs overflow the budget (the cum-DIV rule admits the chunk that
    * crosses the boundary — a deliberate overshoot this report QUANTIFIES
    * instead of hiding). One integer aggregation over the gated H5 frame
    * (one definition of packing, two gates); 1-row output, the
    * combine_global shape.
    */
  def packReport(s: SparkSession, d: String): DataFrame =
    pack(s, d).agg(
        count(lit(1)).as("n_packs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("n_tokens") > PackBudget, 1L).otherwise(0L)).as("n_overflow"))
      .select(col("n_packs"), col("total_tokens"), col("n_overflow"),
        expr(s"(total_tokens + ${PackBudget - 1}L) DIV ${PackBudget}L").as("ideal_packs"),
        expr(s"(10000 * total_tokens) DIV (n_packs * ${PackBudget}L)").as("mean_fill_bps"),
        expr(s"(10000 * (n_packs - (total_tokens + ${PackBudget - 1}L) DIV ${PackBudget}L))" +
          s" DIV greatest((total_tokens + ${PackBudget - 1}L) DIV ${PackBudget}L, 1L)")
          .as("overhead_bps"))

  val packReportSql: String = s"""
    WITH packs AS ($packSql)
    SELECT * FROM (
      SELECT COUNT(*) AS n_packs,
        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        CAST(SUM(CASE WHEN n_tokens > $PackBudget THEN 1 ELSE 0 END) AS BIGINT)
          AS n_overflow,
        (CAST(SUM(n_tokens) AS BIGINT) + ${PackBudget - 1}) // $PackBudget
          AS ideal_packs,
        CAST((10000 * CAST(SUM(n_tokens) AS BIGINT))
          // (COUNT(*) * $PackBudget) AS BIGINT) AS mean_fill_bps,
        CAST((10000 * (COUNT(*) -
            (CAST(SUM(n_tokens) AS BIGINT) + ${PackBudget - 1}) // $PackBudget))
          // GREATEST((CAST(SUM(n_tokens) AS BIGINT) + ${PackBudget - 1}) // $PackBudget, 1)
          AS BIGINT) AS overhead_bps
      FROM packs)"""

  /** H5b — packing on K-round BPE token counts (round-10 verdict item 2:
    * the budget/pack consumers keying on the tokenizer-shaped count).
    * Identical packing shape to [[pack]] — PackGroups parallel running-sum
    * streams — but each chunk is measured by
    * [[graft.functions.TextFunctions.bpeTokensK]] over its text instead of
    * its word count, so pack boundaries land where a real BPE tokenizer
    * would put them. A word chunk maps to strictly fewer BPE-K symbols than
    * codepoints, and the merge chain runs once per chunk in the same scan
    * that forms it — no extra pass, no shuffle beyond pack()'s own.
    */
  def packBpe(s: SparkSession, d: String): DataFrame = {
    val grpW = Window.partitionBy(col("grp")).orderBy(col("doc_id"), col("chunk_idx"))
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (n_words - 1) DIV $ChunkStride), " +
            s"k -> slice(ws, k * $ChunkStride + 1, $ChunkTokens))"))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        bpeTokensK(concat_ws(" ", col("chunk"))).as("n_tokens"))
      .withColumn("grp", pmod(col("doc_id"), lit(PackGroups.toLong)))
      .withColumn("cum_before",
        sum(col("n_tokens").cast("long")).over(grpW) - col("n_tokens"))
      .withColumn("pack_seq", expr(s"cum_before DIV $PackBudget"))
      .groupBy(col("grp"), col("pack_seq"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens").cast("long")).as("n_tokens"))
  }

  val packBpeSql: String = s"""
    WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    k AS (SELECT doc_id, ws,
            unnest(range(((len(ws) - 1) // $ChunkStride) + 1)) AS chunk_idx
          FROM w),
    c AS (SELECT doc_id, chunk_idx,
            ${bpeTokensKSql(s"array_to_string(ws[chunk_idx * $ChunkStride + 1 : " +
              s"chunk_idx * $ChunkStride + $ChunkTokens], ' ')")} AS n_tokens
          FROM k),
    g AS (SELECT doc_id, chunk_idx, n_tokens, doc_id % $PackGroups AS grp FROM c),
    cum AS (SELECT grp, n_tokens,
              SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id, chunk_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
            FROM g)
    SELECT grp, CAST(cum_before // $PackBudget AS BIGINT) AS pack_seq,
      COUNT(*) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM cum GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Deterministic train/val/test split — the other reproducibility
    * primitive next to [[sampleMix]]: bucket = pmod(splitmix64(doc_id), 100)
    * (90/5/5). Hashing (not raw residues as in sampleMix) decorrelates the
    * assignment from any id-assignment pattern — sequential ids, per-source
    * id ranges, or sharded id strides all spread uniformly. Pure per-row
    * map fused into the scan's codegen stage: no shuffle, no state, and the
    * assignment is stable under corpus growth (a doc's split never changes
    * when new docs arrive) — exactly what a 100 TB training pipeline needs
    * for incremental runs. Oracle replays splitmix64 in HUGEINT mod-2^64
    * CTEs and Spark's signed pmod on the result.
    */
  def trainSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(graft.plans.MixHash.splitmix64Col(col("doc_id")), lit(100L))
    Tables.documents(s, d)
      .withColumn("bucket", bucket)
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test").as("split"))
  }

  /** H48 — STRATIFIED train/val/test split (round-13; H6's hash split made
    * exact-per-stratum): H6's bucket rule hits 90/5/5 only in expectation —
    * a small source can land val-empty, which breaks per-source eval. Here
    * every source is split at EXACT floor boundaries of its own
    * deterministic hash order (rank by splitmix64(doc_id): first ⌊90%⌋
    * train, next ⌊95%⌋−⌊90%⌋ val, rest test) — per-stratum proportions
    * guaranteed to within one document, still stable under reruns and
    * engine changes. One scan + the per-source rank window (partitioned —
    * strata distribute). Spec pins the exact per-source count arithmetic,
    * the partition property, and determinism.
    */
  def splitStratified(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("hv", graft.plans.MixHash.splitmix64Col(col("doc_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("hv"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .select(col("doc_id"), col("source"),
        when(col("rk") * 100 <= col("n") * 90, "train")
          .when(col("rk") * 100 <= col("n") * 95, "val")
          .otherwise("test").as("split"))

  val splitStratifiedSql: String = {
    import graft.plans.MixHash._
    s"""
    WITH s0 AS (SELECT doc_id, source, CAST(doc_id AS HUGEINT) AS z FROM documents),
    s1 AS (SELECT doc_id, source, ${sqlMixStep1("z")} AS z FROM s0),
    s2 AS (SELECT doc_id, source, ${sqlMixStep2("z")} AS z FROM s1),
    s3 AS (SELECT doc_id, source, ${sqlMixStep3("z")} AS z FROM s2),
    s4 AS (SELECT doc_id, source, ${sqlMixStep4("z")} AS z FROM s3),
    sg AS (SELECT doc_id, source, ${sqlToSigned("z")} AS hv FROM s4),
    rk AS (
      SELECT doc_id, source,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk,
        COUNT(*) OVER (PARTITION BY source) AS n
      FROM sg)
    SELECT doc_id, source,
      CASE WHEN rk * 100 <= n * 90 THEN 'train'
           WHEN rk * 100 <= n * 95 THEN 'val'
           ELSE 'test' END AS split
    FROM rk ORDER BY doc_id"""
  }

  /** Shared H6 oracle fragments: the splitmix64 replay chain ending in
    * `spl(doc_id, bucket, split)`. Composed by the H6 oracle itself and by
    * downstream auditors (H17) so the 90/5/5 thresholds and the hash replay
    * live in exactly one place.
    */
  val splitCtes: String = {
    import graft.plans.MixHash._
    s"""h0 AS (SELECT doc_id, CAST(doc_id AS HUGEINT) AS z FROM documents),
    h1 AS (SELECT doc_id, ${sqlMixStep1("z")} AS z FROM h0),
    h2 AS (SELECT doc_id, ${sqlMixStep2("z")} AS z FROM h1),
    h3 AS (SELECT doc_id, ${sqlMixStep3("z")} AS z FROM h2),
    h4 AS (SELECT doc_id, ${sqlMixStep4("z")} AS z FROM h3),
    sgn AS (SELECT doc_id, ${sqlToSigned("z")} AS v FROM h4),
    spl AS (SELECT doc_id, ((v % 100) + 100) % 100 AS bucket,
      CASE WHEN ((v % 100) + 100) % 100 < 90 THEN 'train'
           WHEN ((v % 100) + 100) % 100 < 95 THEN 'val'
           ELSE 'test' END AS split
      FROM sgn)"""
  }

  val splitSql: String =
    s"WITH $splitCtes SELECT doc_id, bucket, split FROM spl ORDER BY doc_id"

  /** H7 — scalable global row enumeration: dense ids 1..N in doc_id order
    * WITHOUT the single-partition window a naive
    * `row_number() OVER (ORDER BY doc_id)` plans. Range-repartition on the
    * id (sampled boundaries, ~equal partitions), sort within partitions,
    * then `zipWithIndex` — Spark's two-pass partition-offset scheme: one
    * pass counts each partition, the driver holds only the P-long offset
    * array, the second pass stamps ids. Total order on the unique doc_id
    * makes the output deterministic regardless of where the sampled range
    * boundaries land. This is THE id-assignment pattern for a 100 TB corpus;
    * the oracle is the window form the operator exists to avoid.
    */
  def rowIds(s: SparkSession, d: String): DataFrame = {
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .repartitionByRange(p, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val stamped = sorted.rdd.map(r => (r.getLong(0), r.getLong(1)))
      .zipWithIndex.map { case ((id, nc), i) => (id, nc, i + 1L) }
    s.createDataFrame(stamped).toDF("doc_id", "n_chars", "rid")
  }

  val rowIdsSql: String = """
    SELECT doc_id, n_chars, ROW_NUMBER() OVER (ORDER BY doc_id) AS rid
    FROM documents ORDER BY doc_id"""

  /** H8 — weighted sampling without replacement (Efraimidis–Spirakis):
    * priority = u^(1/w) with u a deterministic uniform from
    * splitmix64(doc_id) and w the doc's length — the top-k by priority is
    * an exact weighted sample, and because u replays from the id it is
    * STABLE: re-running on a grown corpus keeps every still-qualifying doc.
    * Top-k runs as TakeOrdered (per-partition heads + driver merge of k
    * rows), never a global sort. The 6dp round makes the float ranking
    * cross-engine-safe (ties break on doc_id); the oracle replays
    * splitmix64 in HUGEINT CTEs and the same pow/round in doubles.
    */
  val SampleK = 100

  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val h = graft.plans.MixHash.splitmix64Col(col("doc_id")).cast("double")
    val u = h / lit(1.8446744073709552e19) + lit(0.5) // signed long -> [0,1)
    val w = greatest(col("n_chars"), lit(1L)).cast("double")
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        round(pow(u, lit(1.0) / w), 6).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(SampleK)
  }

  val sampleWeightedSql: String = {
    import graft.plans.MixHash._
    s"""
    WITH h0 AS (SELECT doc_id, n_chars, CAST(doc_id AS HUGEINT) AS z FROM documents),
    h1 AS (SELECT doc_id, n_chars, ${sqlMixStep1("z")} AS z FROM h0),
    h2 AS (SELECT doc_id, n_chars, ${sqlMixStep2("z")} AS z FROM h1),
    h3 AS (SELECT doc_id, n_chars, ${sqlMixStep3("z")} AS z FROM h2),
    h4 AS (SELECT doc_id, n_chars, ${sqlMixStep4("z")} AS z FROM h3),
    sgn AS (SELECT doc_id, n_chars, ${sqlToSigned("z")} AS v FROM h4)
    SELECT doc_id, n_chars,
      ROUND(POW(CAST(v AS DOUBLE) / 18446744073709551616.0 + 0.5,
                1.0 / CAST(GREATEST(n_chars, 1) AS DOUBLE)), 6) AS priority
    FROM sgn ORDER BY priority DESC, doc_id LIMIT $SampleK"""
  }

  /** H9 — per-stratum quota sampling: exactly K docs per source, chosen by
    * a deterministic hash order (splitmix64 of the id — a stable shuffle).
    * Complements [[sampleMix]] (ratio-based): quotas guarantee minority
    * strata K rows instead of a share. Partitioned window — work and state
    * distribute across strata; K rows survive per stratum regardless of
    * corpus size.
    */
  val QuotaK = 20

  def sampleQuota(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("hv", graft.plans.MixHash.splitmix64Col(col("doc_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("hv"), col("doc_id"))))
      .filter(col("rk") <= QuotaK)
      .select(col("doc_id"), col("source"), col("rk"))

  val sampleQuotaSql: String = {
    import graft.plans.MixHash._
    s"""
    WITH h0 AS (SELECT doc_id, source, CAST(doc_id AS HUGEINT) AS z FROM documents),
    h1 AS (SELECT doc_id, source, ${sqlMixStep1("z")} AS z FROM h0),
    h2 AS (SELECT doc_id, source, ${sqlMixStep2("z")} AS z FROM h1),
    h3 AS (SELECT doc_id, source, ${sqlMixStep3("z")} AS z FROM h2),
    h4 AS (SELECT doc_id, source, ${sqlMixStep4("z")} AS z FROM h3),
    sgn AS (SELECT doc_id, source, ${sqlToSigned("z")} AS hv FROM h4),
    rk AS (SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk
           FROM sgn)
    SELECT doc_id, source, CAST(rk AS INTEGER) AS rk
    FROM rk WHERE rk <= $QuotaK ORDER BY source, rk"""
  }

  /** H13 — the end-to-end data-prep composite: quality gate + language
    * filter + exact dedup + eval-set decontamination + per-source length
    * trim, fused into ONE declarative plan, reduced to per-source corpus
    * stats. This is the shape a real 100 TB prep job runs: every stage is a
    * narrow filter/window over the same scan lineage, the only data-sized
    * shuffles are the fp-dedup window, the per-source trim window, and the
    * shingle⋈eval-gram contamination probe (eval grams broadcast — the eval
    * set is small by construction), and Catalyst is free to pipeline the
    * stages because nothing materializes in between. Eval docs
    * (doc_id < EvalDocs) are excluded from the training side up front.
    *
    * Round 9: the D10 PII scrub ([[TextAnalysis.maskPiiCol]]) is fused in
    * as one more per-row map in the same codegen stage — masking runs
    * BEFORE fingerprinting (two docs differing only in a masked span must
    * dedup together) and the emitted token/char accounting measures the
    * masked text, which is what ships to training. Same scan count.
    */
  def corpusPrepare(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.documents(s, d)
    val evalGrams = raw.filter(col("doc_id") < EvalDocs)
      .select(explode(graft.plans.ShingleArray.shingles(
        col("text"), DecontaminationGram)).as("g"))
      .distinct()
    val cleaned = raw
      .withColumn("mtext", TextAnalysis.maskPiiCol(col("text")))
      .withColumn("alpha_ratio", alphaRatio(col("text")))
      .withColumn("space_ratio", spaceRatio(col("text")))
      .withColumn("pred_lang", langId(col("text")))
      .withColumn("fp", fingerprint(col("mtext")))
      .filter(col("doc_id") >= EvalDocs && gateQuality && gateLang)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    val contaminated = cleaned
      .select(col("doc_id"), explode(graft.plans.ShingleArray.shingles(
        col("text"), DecontaminationGram)).as("g"))
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
    val decontam = cleaned.join(contaminated, Seq("doc_id"), "left_anti")
    val trimmed = decontam
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .filter(col("rk") * 100 > col("n") * 5 && col("rk") * 100 <= col("n") * 95)
    trimmed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokens(col("mtext")).cast("long")).as("ws_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("mtext")).cast("long")).as("masked_chars"))
  }

  val corpusPrepareSql: String = s"""
    WITH masked AS (
      SELECT doc_id, source, n_chars, text,
        ${TextAnalysis.maskPiiSql("text")} AS mtext
      FROM documents),
    scored AS (
      SELECT doc_id, source, n_chars, text, mtext,
        ${alphaRatioSql("text")} AS alpha_ratio,
        ${spaceRatioSql("text")} AS space_ratio,
        ${langIdSql("text")} AS pred_lang,
        ${fingerprintSql("mtext")} AS fp
      FROM masked),
    cleaned0 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM scored
      WHERE doc_id >= $EvalDocs AND $gateQualitySql AND $gateLangSql),
    cleaned AS (SELECT doc_id, source, n_chars, text, mtext FROM cleaned0 WHERE rn = 1),
    w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
                       for i in range(1, len(ws) - 3)]) AS s
      FROM w WHERE len(ws) >= 5),
    ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < $EvalDocs),
    contaminated AS (
      SELECT DISTINCT c.doc_id FROM sh c, ev
      WHERE c.doc_id >= $EvalDocs AND list_contains(c.s, ev.g)),
    decon AS (SELECT * FROM cleaned
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    r AS (SELECT *,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
        COUNT(*) OVER (PARTITION BY source) AS n
      FROM decon),
    trimmed AS (SELECT * FROM r WHERE rk * 100 > n * 5 AND rk * 100 <= n * 95)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(${wsTokensSql("mtext")}) AS BIGINT) AS ws_tokens,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      CAST(SUM(length(mtext)) AS BIGINT) AS masked_chars
    FROM trimmed GROUP BY source ORDER BY source"""

  /** H13 v2 (round-13, verdict item 3) — the flagship composite upgraded
    * to the round-12 parts, so the end-to-end prep pipeline uses the BEST
    * available device at each stage instead of the simplest:
    *
    *  - dedup: keep-BEST near-dup (H32's rule — E8 cluster labels from the
    *    stored E2 pair artifact, per-cluster argmax by the shared H29
    *    ensemble score) in place of v1's keep-first EXACT-fingerprint rule.
    *    Exact duplicates are subsumed (identical text ⇒ Jaccard 1.0 ⇒ one
    *    cluster); the kept variant is now the highest-quality one.
    *  - token accounting: per-source totals under the LEARNED BPE table
    *    (H33's stored artifact applied by the H34 kernel to the MASKED
    *    text — the count that prices what actually ships to training)
    *    instead of whitespace tokens.
    *  - mixing: the H36 integer water-filling allocation over those
    *    learned-token totals as the final stage — each source leaves with
    *    its repetition-capped training allocation, not just its size.
    *
    * Still one Catalyst plan over THREE documents scans (main fused
    * mask+gate+score scan, the broadcast eval-gram side, the contamination
    * probe's re-scan of the cleaned lineage — v1's exact scan set) plus two
    * tiny stored-artifact reads (the near-dup pair/label parquet and the
    * learned merge table, both corpus-fingerprint-versioned). The label
    * attach is a left join against the SPARSE label table
    * ([[graft.dedup.Dedup.clusterLabelsSparse]] — pair-graph-sized, not
    * corpus-sized); the waterfill windows run over the |sources|-row
    * report frame (the skew_report discipline), never the corpus.
    */
  def corpusPrepareV2(s: SparkSession, d: String): DataFrame = {
    val (ra, rb, rm) = BpeTrain.learnedRules(s, d)
    val raw = Tables.documents(s, d)
    val evalGrams = raw.filter(col("doc_id") < EvalDocs)
      .select(explode(graft.plans.ShingleArray.shingles(
        col("text"), DecontaminationGram)).as("g"))
      .distinct()
    val gated = CorpusSpans.withQualityScore(raw
        .withColumn("mtext", TextAnalysis.maskPiiCol(col("text")))
        .withColumn("alpha_ratio", alphaRatio(col("text")))
        .withColumn("space_ratio", spaceRatio(col("text")))
        .withColumn("pred_lang", langId(col("text"))))
      .filter(col("doc_id") >= EvalDocs && gateQuality && gateLang)
    val kept = gated
      .join(graft.dedup.Dedup.clusterLabelsSparse(s, d), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("krk", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("krk") === 1)
    val contaminated = kept
      .select(col("doc_id"), explode(graft.plans.ShingleArray.shingles(
        col("text"), DecontaminationGram)).as("g"))
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
    val trimmed = kept.join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("trk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .filter(col("trk") * 100 > col("n") * 5 && col("trk") * 100 <= col("n") * 95)
    val tok = trimmed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.plans.BpeDynamic.countWithCol(col("mtext"), ra, rb, rm)
          .cast("long")).as("bpe_tokens"))
    waterfillAllocation(tok)
  }

  /** The H36 integer water-filling allocation over a per-source
    * (source, n_docs, bpe_tokens) frame — the shared tail of the v2 and
    * incremental flagships (ONE definition, two gates — they cannot
    * drift). Every window runs over the |sources|-row report frame. */
  private def waterfillAllocation(tok: DataFrame): DataFrame = {
    val caps = tok
      .withColumn("max_epochs",
        lit(1L) + pmod(graft.plans.MixHash.polyHashCol(col("source")), lit(4L)))
      .withColumn("capacity", col("max_epochs") * col("bpe_tokens"))
    val w = Window.orderBy(col("capacity"), col("source"))
    val ranked = caps
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("pfx", sum(col("capacity")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = caps.agg(count(lit(1)).as("n_src"), sum(col("bpe_tokens")).as("tot"))
      .select(col("n_src"), expr("(tot * 3) DIV 2").as("budget"))
    val sat = ranked.crossJoin(broadcast(tot))
      .withColumn("saturated",
        col("capacity") * (col("n_src") - col("rn") + 1) <=
          col("budget") - (col("pfx") - col("capacity")))
    val kpk = sat.agg(
        max(when(col("saturated"), col("rn"))).as("k0"),
        max(when(col("saturated"), col("pfx"))).as("pk0"))
      .select(coalesce(col("k0"), lit(0L)).as("k"),
        coalesce(col("pk0"), lit(0L)).as("pk"))
    sat.crossJoin(broadcast(kpk))
      .withColumn("allocation", when(col("saturated"), col("capacity"))
        .otherwise(expr("(budget - pk) DIV (n_src - k)")))
      .select(col("source"), col("n_docs"), col("bpe_tokens"),
        col("max_epochs"), col("capacity"), col("allocation"), col("saturated"),
        expr("(10000 * allocation) DIV greatest(bpe_tokens, 1L)").as("epochs_bps"))
  }

  /** The composed oracle: the BPE training replay (H33's MATERIALIZED CTE
    * chain), the recursive-reachability cluster labels (H32's), the shared
    * score CTEs (H29's), v1's mask/gate/decontaminate/trim CTEs, and the
    * waterfill arithmetic (H36's) — each stage textually the same device
    * its standalone oracle uses. */
  val corpusPrepareV2Sql: String = {
    import graft.plans.MixHash._
    s"""
    WITH RECURSIVE
    ${BpeTrain.trainingCtes},
    jw AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    jsh AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       for i in range(1, len(ws) - 1)]) AS s
      FROM jw WHERE len(ws) >= 3),
    je AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM jsh a JOIN jsh b ON a.doc_id <> b.doc_id
      WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.8),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, je.dst FROM reach r JOIN je ON r.b = je.src),
    lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    ${CorpusSpans.qualityScoreCtes},
    masked AS (
      SELECT doc_id, source, n_chars, text,
        ${TextAnalysis.maskPiiSql("text")} AS mtext
      FROM documents),
    scored AS (
      SELECT doc_id, source, n_chars, text, mtext,
        ${alphaRatioSql("text")} AS alpha_ratio,
        ${spaceRatioSql("text")} AS space_ratio,
        ${langIdSql("text")} AS pred_lang
      FROM masked),
    gated AS (
      SELECT sd.doc_id, sd.source, sd.n_chars, sd.text, sd.mtext, sc.score
      FROM scored sd JOIN sc ON sc.doc_id = sd.doc_id
      WHERE sd.doc_id >= $EvalDocs AND $gateQualitySql AND $gateLangSql),
    kb AS (
      SELECT g.*, ROW_NUMBER() OVER (PARTITION BY l.cluster_id
        ORDER BY g.score DESC, g.doc_id) AS krk
      FROM gated g JOIN lab l ON l.doc_id = g.doc_id),
    kept AS (SELECT doc_id, source, n_chars, text, mtext FROM kb WHERE krk = 1),
    dw AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    dsh AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
                       for i in range(1, len(ws) - 3)]) AS s
      FROM dw WHERE len(ws) >= 5),
    ev AS (SELECT DISTINCT unnest(s) AS g FROM dsh WHERE doc_id < $EvalDocs),
    contaminated AS (
      SELECT DISTINCT c.doc_id FROM dsh c, ev
      WHERE c.doc_id >= $EvalDocs AND list_contains(c.s, ev.g)),
    decon AS (SELECT * FROM kept
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    rr AS (SELECT *,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS trk,
        COUNT(*) OVER (PARTITION BY source) AS n
      FROM decon),
    trimmed AS (SELECT * FROM rr WHERE trk * 100 > n * 5 AND trk * 100 <= n * 95),
    tok AS (
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(length(${BpeTrain.learnedChain("mtext")})) AS BIGINT) AS bpe_tokens
      FROM trimmed GROUP BY source),
    ${waterfillTailSql("tok")}"""
  }

  /** SQL twin of [[waterfillAllocation]] — the waterfill tail CTEs plus the
    * final SELECT, parameterized by the per-source token CTE. Shared text
    * between the v2 and incremental flagship oracles. */
  private def waterfillTailSql(tokCte: String): String = {
    import graft.plans.MixHash._
    s"""${sqlMixedCtes(tokCte, "source", Seq("source", "n_docs", "bpe_tokens"), "wh")},
    caps AS (
      SELECT source, n_docs, bpe_tokens, CAST(1 + h % 4 AS BIGINT) AS max_epochs,
        CAST((1 + h % 4) * bpe_tokens AS BIGINT) AS capacity
      FROM wh),
    tot AS (
      SELECT COUNT(*) AS n_src, (SUM(bpe_tokens) * 3) // 2 AS budget FROM caps),
    ranked AS (
      SELECT source, n_docs, bpe_tokens, max_epochs, capacity,
        ROW_NUMBER() OVER (ORDER BY capacity, source) AS rn,
        SUM(capacity) OVER (ORDER BY capacity, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
      FROM caps),
    sat AS (
      SELECT r.*, t.n_src, t.budget,
        r.capacity * (t.n_src - r.rn + 1) <= t.budget - (r.pfx - r.capacity)
          AS saturated
      FROM ranked r, tot t),
    kpk AS (
      SELECT COALESCE(MAX(CASE WHEN saturated THEN rn END), 0) AS k,
        COALESCE(MAX(CASE WHEN saturated THEN pfx END), 0) AS pk
      FROM sat)
    SELECT s.source, s.n_docs, s.bpe_tokens, s.max_epochs, s.capacity,
      CAST(CASE WHEN s.saturated THEN s.capacity
        ELSE (s.budget - kpk.pk) // (s.n_src - kpk.k) END AS BIGINT)
        AS allocation,
      s.saturated,
      CAST((10000 * CASE WHEN s.saturated THEN s.capacity
        ELSE (s.budget - kpk.pk) // (s.n_src - kpk.k) END)
        // greatest(s.bpe_tokens, 1) AS BIGINT) AS epochs_bps
    FROM sat s, kpk ORDER BY s.source"""
  }

  /** Stored eval-gram artifact for the incremental flagship: the distinct
    * decontamination 5-grams of the eval prefix, built once per corpus
    * generation (fingerprint-versioned) so per-batch decontamination never
    * rescans corpus text. Tiny (eval prefix is [[EvalDocs]] docs). */
  private def evalGramsLocation(s: SparkSession, d: String): String =
    graft.Artifacts.stored(s, "eval_grams", d, Seq("documents.parquet")) { dir =>
      Tables.documents(s, d).filter(col("doc_id") < EvalDocs)
        .select(explode(graft.plans.ShingleArray.shingles(
          col("text"), DecontaminationGram)).as("g"))
        .distinct()
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** H53 — INCREMENTAL flagship (round-14, verdict item 7): the
    * continuously-crawled-corpus shape. A new document batch arrives (E7's
    * shared deterministic 20% split — [[graft.dedup.Dedup.incrementalBatchPredicate]])
    * and its prepared rows + mix accounting are produced by REUSING the
    * standing corpus-generation artifacts instead of recomputing anything
    * corpus-sized:
    *   - near-dup ADMISSION against the existing corpus through E7's
    *     stored PPJoin index (the plan scans its graft_incr_* generation tables —
    *     corpus text is never re-shingled);
    *   - eval-set decontamination against the STORED eval-gram artifact
    *     ([[evalGramsLocation]], fingerprint-versioned);
    *   - token accounting under the STORED learned BPE table (H33);
    *   - v2's fused mask/gate/score scan, run over BATCH text only;
    *   - p5-p95 trim and the H36 waterfill mix accounting over the
    *     batch's sources ([[waterfillAllocation]] — shared tail with v2).
    * Keep-rule divergences vs a full v2 recompute, BY DESIGN (spec-pinned):
    * (1) arrival order wins — a batch doc that near-dups a corpus doc is
    * dropped even when higher quality (v2's global keep-best could prefer
    * it); (2) within-batch dedup is the exact masked-fingerprint keep-first
    * rule, not cluster keep-best — batch-local near-dup clusters resolve at
    * the next full compaction. Every documents-text scan in the plan sits
    * under the batch predicate; corpus-sized state arrives only through
    * stored artifacts (spec-pinned scan census).
    */
  def corpusPrepareIncremental(s: SparkSession, d: String): DataFrame = {
    // the |sources|-row tok frame is persisted across the waterfill tail's
    // self-references: unlike v2 (whose reuse the exchange-dedup handles,
    // spec-pinned), the pipeline below tok here contains E7's index join,
    // which the tail would otherwise re-derive 3× (measured 7.7 s vs
    // ~3 s at sf0.1); released after the first consuming action
    val tok = graft.CacheScope.scopedPersist(prepareIncrementalTok(s, d))
    graft.CacheScope.releaseAfterUse(waterfillAllocation(tok), tok)
  }

  /** The batch pipeline up to the per-source token frame — unpersisted,
    * so the spec can audit the real plan (the gated entry wraps it in a
    * scoped persist for the waterfill tail). */
  private[graft] def prepareIncrementalTok(s: SparkSession, d: String): DataFrame = {
    val (ra, rb, rm) = BpeTrain.learnedRules(s, d)
    val evalGrams = graft.Artifacts.parquet(s, evalGramsLocation(s, d))
    val batch = Tables.documents(s, d)
      .filter(graft.dedup.Dedup.incrementalBatchPredicate)
    val gated = batch
      .withColumn("mtext", TextAnalysis.maskPiiCol(col("text")))
      .withColumn("alpha_ratio", alphaRatio(col("text")))
      .withColumn("space_ratio", spaceRatio(col("text")))
      .withColumn("pred_lang", langId(col("text")))
      .withColumn("fp", fingerprint(col("mtext")))
      .filter(col("doc_id") >= EvalDocs && gateQuality && gateLang)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    val admitted = gated.join(graft.dedup.Dedup.incrementalNew(s, d),
      Seq("doc_id"), "left_semi")
    // contamination probes the BATCH superset (not the admitted lineage):
    // the left-anti join below only removes admitted ∩ contaminated, so
    // the result is identical (and matches the oracle's batch-wide CTE)
    // while the plan re-derives neither the gates nor E7's index join for
    // this branch — measured 8.1 → ~5 s at sf0.1
    val contaminated = batch
      .select(col("doc_id"), explode(graft.plans.ShingleArray.shingles(
        col("text"), DecontaminationGram)).as("g"))
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
    val trimmed = admitted.join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("trk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .filter(col("trk") * 100 > col("n") * 5 && col("trk") * 100 <= col("n") * 95)
    trimmed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.plans.BpeDynamic.countWithCol(col("mtext"), ra, rb, rm)
          .cast("long")).as("bpe_tokens"))
  }

  /** Oracle: the same batch semantics replayed quadratically — E7's
    * batch-vs-corpus Jaccard formulation, v1's exact-dedup CTEs restricted
    * to the batch, the decontamination and trim stages, the H33 learned
    * chain for tokens, and the shared waterfill tail. */
  val corpusPrepareIncrementalSql: String = s"""
    WITH
    ${BpeTrain.trainingCtes},
    iw AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    ish AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       for i in range(1, len(ws) - 1)]) AS s
      FROM iw WHERE len(ws) >= 3),
    imatched AS (
      SELECT DISTINCT n.doc_id
      FROM ish n JOIN ish o
        ON n.doc_id % 10 >= 8 AND o.doc_id % 10 < 8
      WHERE ROUND(CAST(len(list_intersect(n.s, o.s)) AS DOUBLE)
              / (len(n.s) + len(o.s) - len(list_intersect(n.s, o.s))), 6) >= 0.8),
    admitted_ids AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 10 >= 8 AND doc_id NOT IN (SELECT doc_id FROM imatched)),
    masked AS (
      SELECT doc_id, source, n_chars, text,
        ${TextAnalysis.maskPiiSql("text")} AS mtext
      FROM documents WHERE doc_id % 10 >= 8),
    scored AS (
      SELECT doc_id, source, n_chars, text, mtext,
        ${alphaRatioSql("text")} AS alpha_ratio,
        ${spaceRatioSql("text")} AS space_ratio,
        ${langIdSql("text")} AS pred_lang,
        ${fingerprintSql("mtext")} AS fp
      FROM masked),
    gated0 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM scored
      WHERE doc_id >= $EvalDocs AND $gateQualitySql AND $gateLangSql),
    gated AS (SELECT doc_id, source, n_chars, text, mtext FROM gated0 WHERE rn = 1),
    adm AS (SELECT g.* FROM gated g JOIN admitted_ids a ON a.doc_id = g.doc_id),
    dw AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    dsh AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
                       for i in range(1, len(ws) - 3)]) AS s
      FROM dw WHERE len(ws) >= 5),
    ev AS (SELECT DISTINCT unnest(s) AS g FROM dsh WHERE doc_id < $EvalDocs),
    contaminated AS (
      SELECT DISTINCT c.doc_id FROM dsh c, ev
      WHERE c.doc_id % 10 >= 8 AND list_contains(c.s, ev.g)),
    decon AS (SELECT * FROM adm
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    rr AS (SELECT *,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS trk,
        COUNT(*) OVER (PARTITION BY source) AS n
      FROM decon),
    trimmed AS (SELECT * FROM rr WHERE trk * 100 > n * 5 AND trk * 100 <= n * 95),
    tok AS (
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(length(${BpeTrain.learnedChain("mtext")})) AS BIGINT) AS bpe_tokens
      FROM trimmed GROUP BY source),
    ${waterfillTailSql("tok")}"""

  /** H11 — deterministic corpus shuffle: the global pseudo-random training
    * order. Each doc's position is its rank under splitmix64(doc_id) — a
    * stable permutation reproducible across runs and engines. The global
    * rank uses the [[rowIds]] two-pass shape (range-partition by hash +
    * in-partition sort + zipWithIndex): no single-partition window, driver
    * state is one offset per partition.
    */
  def corpusShuffle(s: SparkSession, d: String): DataFrame = {
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = Tables.documents(s, d)
      .select(col("doc_id"), graft.plans.MixHash.splitmix64Col(col("doc_id")).as("hv"))
      .repartitionByRange(p, col("hv"), col("doc_id"))
      .sortWithinPartitions(col("hv"), col("doc_id"))
    val stamped = sorted.rdd.map(r => (r.getLong(0), r.getLong(1)))
      .zipWithIndex.map { case ((id, _), i) => (id, i + 1L) }
    s.createDataFrame(stamped).toDF("doc_id", "shuffle_pos")
  }

  val corpusShuffleSql: String = {
    import graft.plans.MixHash._
    s"""
    WITH h0 AS (SELECT doc_id, CAST(doc_id AS HUGEINT) AS z FROM documents),
    h1 AS (SELECT doc_id, ${sqlMixStep1("z")} AS z FROM h0),
    h2 AS (SELECT doc_id, ${sqlMixStep2("z")} AS z FROM h1),
    h3 AS (SELECT doc_id, ${sqlMixStep3("z")} AS z FROM h2),
    h4 AS (SELECT doc_id, ${sqlMixStep4("z")} AS z FROM h3),
    sgn AS (SELECT doc_id, ${sqlToSigned("z")} AS hv FROM h4)
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hv, doc_id) AS shuffle_pos
    FROM sgn ORDER BY doc_id"""
  }

  /** H12 — weighted mixture interleaving: the deterministic merged training
    * order under per-source weights (stride scheduling — a doc's virtual
    * time is its within-source rank over its source's weight, so a
    * weight-4 source appears 4× as often as a weight-1 source at any
    * prefix of the order). Within-source ranks partition by source;
    * the global order reuses the two-pass rank shape. The virtual time is
    * one IEEE division (rank/weight) — identical on both engines — with
    * (source, rank) breaking cross-source ties deterministically.
    */
  def mixOrder(s: SparkSession, d: String): DataFrame = {
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    val ranked = Tables.documents(s, d)
      .withColumn("hv", graft.plans.MixHash.splitmix64Col(col("doc_id")))
      .withColumn("w", expr("CAST(substring(source, 4) AS INT) % 4 + 1"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("hv"), col("doc_id"))))
      .withColumn("vt", col("r").cast("double") / col("w"))
    val sorted = ranked.select(col("doc_id"), col("source"), col("vt"), col("r"))
      .repartitionByRange(p, col("vt"), col("source"), col("r"))
      .sortWithinPartitions(col("vt"), col("source"), col("r"))
    val stamped = sorted.rdd.map(row => (row.getLong(0), row.getString(1)))
      .zipWithIndex.map { case ((id, src), i) => (id, src, i + 1L) }
    s.createDataFrame(stamped).toDF("doc_id", "source", "mix_pos")
  }

  val mixOrderSql: String = {
    import graft.plans.MixHash._
    s"""
    WITH h0 AS (SELECT doc_id, source, CAST(doc_id AS HUGEINT) AS z FROM documents),
    h1 AS (SELECT doc_id, source, ${sqlMixStep1("z")} AS z FROM h0),
    h2 AS (SELECT doc_id, source, ${sqlMixStep2("z")} AS z FROM h1),
    h3 AS (SELECT doc_id, source, ${sqlMixStep3("z")} AS z FROM h2),
    h4 AS (SELECT doc_id, source, ${sqlMixStep4("z")} AS z FROM h3),
    sgn AS (SELECT doc_id, source, ${sqlToSigned("z")} AS hv FROM h4),
    rk AS (SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS r
           FROM sgn),
    wt AS (SELECT doc_id, source, r,
             CAST(substring(source, 4) AS INTEGER) % 4 + 1 AS w
           FROM rk)
    SELECT doc_id, source,
      ROW_NUMBER() OVER (ORDER BY CAST(r AS DOUBLE) / w, source, r) AS mix_pos
    FROM wt ORDER BY doc_id"""
  }

  /** H21 — curriculum ordering: the quality-descending training schedule
    * (curriculum learning feeds cleanest data first; within a quality tier
    * the order is the deterministic splitmix64 shuffle so equal-quality
    * docs don't arrive in id order). Global rank by (alpha_ratio DESC, hash,
    * doc_id) through the SAME window-free two-pass shape as [[corpusShuffle]]
    * — range-partition on the sort key, in-partition sort, zipWithIndex;
    * NO single-partition window at any scale. Oracle = the ROW_NUMBER form
    * the operator exists to avoid; alpha_ratio is 6dp-rounded identically
    * on both engines, ties broken by the exact-integer hash then doc_id.
    */
  def curriculum(s: SparkSession, d: String): DataFrame = {
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    // empty text makes alphaRatio's division NULL: rank such docs as
    // quality 0 (last) instead of NPE-ing the primitive getter below
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"),
        coalesce(alphaRatio(col("text")), lit(0.0)).as("q"),
        graft.plans.MixHash.splitmix64Col(col("doc_id")).as("hv"))
    val sorted = keyed
      .repartitionByRange(p, col("q").desc, col("hv"), col("doc_id"))
      .sortWithinPartitions(col("q").desc, col("hv"), col("doc_id"))
    val stamped = sorted.rdd
      .map(r => (r.getLong(0), r.getDouble(1)))
      .zipWithIndex.map { case ((id, q), i) => (id, q, i + 1L) }
    s.createDataFrame(stamped).toDF("doc_id", "q", "curriculum_pos")
  }

  val curriculumSql: String = {
    import graft.plans.MixHash._
    s"""
    WITH h0 AS (SELECT doc_id, text, CAST(doc_id AS HUGEINT) AS z FROM documents),
    h1 AS (SELECT doc_id, text, ${sqlMixStep1("z")} AS z FROM h0),
    h2 AS (SELECT doc_id, text, ${sqlMixStep2("z")} AS z FROM h1),
    h3 AS (SELECT doc_id, text, ${sqlMixStep3("z")} AS z FROM h2),
    h4 AS (SELECT doc_id, text, ${sqlMixStep4("z")} AS z FROM h3),
    sgn AS (SELECT doc_id, COALESCE(${alphaRatioSql("text")}, 0.0) AS q,
              ${sqlToSigned("z")} AS hv FROM h4)
    SELECT doc_id, q,
      ROW_NUMBER() OVER (ORDER BY q DESC, hv, doc_id) AS curriculum_pos
    FROM sgn ORDER BY doc_id"""
  }

  /** H24 — the per-source cleaning FUNNEL (loss accounting): for every
    * source, how many documents — and how many tokens — each stage of the
    * H13/corpus_clean pipeline removed. This is the table a training-data
    * team reviews after every pipeline change ("why did source X lose 40%
    * at the language gate?"); the gates are the SAME shared constants and
    * expressions `corpus_clean` filters on, so the funnel cannot drift
    * from the pipeline it audits. Stage attribution is sequential (a doc
    * counts at its FIRST failing stage): quality → language → exact-dup
    * (keep-first fingerprint among docs that survived both gates, exactly
    * the corpus_clean rule).
    *
    * Shape: the scored frame (gates + fingerprint + token count per doc)
    * is persisted across its two consumers (the G6 self-join discipline);
    * the keep-first winners are a fp-keyed MIN aggregate over survivors
    * (the H14 min-agg discipline — map-side combined, skew-proof) joined
    * back on fp — a shuffle join at corpus scale (distinct-fingerprint
    * cardinality tracks the corpus; AQE broadcasts it at test SF); the
    * report is one sources-sized conditional-sum aggregate of exact
    * integers, with token losses attributed per stage alongside doc
    * counts.
    */
  def funnelReport(s: SparkSession, d: String): DataFrame = {
    val scored = graft.CacheScope.scopedPersist(
      Tables.documents(s, d)
        .withColumn("alpha_ratio", alphaRatio(col("text")))
        .withColumn("space_ratio", spaceRatio(col("text")))
        .withColumn("pred_lang", langId(col("text")))
        .select(col("doc_id"), col("source"),
          wsTokens(col("text")).cast("long").as("tok"),
          gateQuality.as("q"), gateLang.as("l"),
          fingerprint(col("text")).as("fp")))
    val firsts = scored.filter(col("q") && col("l"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    def tokIf(c: Column): Column = sum(when(c, col("tok")).otherwise(0L))
    val out = scored.join(firsts, Seq("fp"), "left")
      .select(col("source"), col("tok"),
        (!col("q")).as("f_q"),
        (col("q") && !col("l")).as("f_l"),
        (col("q") && col("l") && col("doc_id") =!= col("keep_id")).as("f_d"),
        (col("q") && col("l") && col("doc_id") === col("keep_id")).as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f_q").cast("long")).as("n_fail_quality"),
        sum(col("f_l").cast("long")).as("n_fail_lang"),
        sum(col("f_d").cast("long")).as("n_dup"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(col("tok")).as("tokens_total"),
        tokIf(col("f_q")).as("tokens_fail_quality"),
        tokIf(col("f_l")).as("tokens_fail_lang"),
        tokIf(col("f_d")).as("tokens_dup"),
        tokIf(col("keep")).as("tokens_kept"))
    graft.CacheScope.releaseAfterUse(out, scored)
  }

  val funnelReportSql: String = s"""
    WITH sc0 AS (
      SELECT doc_id, source, text, ${wsTokensSql("text")} AS tok,
        ${alphaRatioSql("text")} AS alpha_ratio,
        ${spaceRatioSql("text")} AS space_ratio,
        ${langIdSql("text")} AS pred_lang,
        ${fingerprintSql("text")} AS fp
      FROM documents),
    scored AS (
      SELECT doc_id, source, tok,
        $gateQualitySql AS q, $gateLangSql AS l, fp
      FROM sc0),
    firsts AS (
      SELECT fp, MIN(doc_id) AS keep_id FROM scored
      WHERE q AND l GROUP BY fp),
    flags AS (
      SELECT s.source, s.tok,
        NOT s.q AS f_q,
        (s.q AND NOT s.l) AS f_l,
        (s.q AND s.l AND s.doc_id <> f.keep_id) AS f_d,
        (s.q AND s.l AND s.doc_id = f.keep_id) AS keep
      FROM scored s LEFT JOIN firsts f USING (fp))
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN f_q THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_quality,
      CAST(SUM(CASE WHEN f_l THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_lang,
      CAST(SUM(CASE WHEN f_d THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(tok) AS BIGINT) AS tokens_total,
      CAST(SUM(CASE WHEN f_q THEN tok ELSE 0 END) AS BIGINT) AS tokens_fail_quality,
      CAST(SUM(CASE WHEN f_l THEN tok ELSE 0 END) AS BIGINT) AS tokens_fail_lang,
      CAST(SUM(CASE WHEN f_d THEN tok ELSE 0 END) AS BIGINT) AS tokens_dup,
      CAST(SUM(CASE WHEN keep THEN tok ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM flags GROUP BY source ORDER BY source"""

  /** H27 — token-budget shard MANIFEST: cut the corpus (in doc_id order)
    * into shards of [[ShardTokens]] whitespace-tokens each and emit the
    * manifest a training job actually consumes — per shard: doc range,
    * doc count, token total. Shard assignment needs the GLOBAL token
    * prefix-sum, the classic scale-killer when written as a global-order
    * window (one partition sorts the corpus); here it is the distributed
    * two-pass form: range-partition by doc_id → per-partition token sums
    * (collected: one long per partition, `shuffle.partitions` rows, never
    * corpus rows) → per-partition running sums seeded by the broadcast
    * offsets. Same device family as H21's zipWithIndex rank, generalized
    * from COUNT to SUM. The sorted scored frame persists across its two
    * passes and releases after.
    *
    * A doc belongs to shard (tokens_before DIV [[ShardTokens]]) — shards
    * are contiguous doc ranges whose token totals hover around the budget
    * (a doc never splits; the manifest records the true totals).
    */
  val ShardTokens = 2000L

  def shardManifest(s: SparkSession, d: String): DataFrame = {
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = Tables.documents(s, d)
      .select(col("doc_id"), wsTokens(col("text")).cast("long").as("t"))
      .repartitionByRange(p, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val cached = graft.CacheScope.scopedPersist(sorted)
    val rdd = cached.rdd.map(r => (r.getLong(0), r.getLong(1)))
    // pass 1 (eager, fills the cache): one token-sum long per partition
    val partSums = rdd
      .mapPartitionsWithIndex { case (i, it) =>
        Iterator.single((i, it.map(_._2).sum))
      }
      .collect().sortBy(_._1).map(_._2)
    // exclusive prefix of the per-partition sums = each partition's seed
    val offsets = partSums.scanLeft(0L)(_ + _)
    val bc = s.sparkContext.broadcast(offsets)
    val sh = ShardTokens
    // pass 2 (lazy, reads the cache): seeded per-partition running sums
    val stamped = rdd.mapPartitionsWithIndex { case (i, it) =>
      var cum = bc.value(i)
      it.map { case (id, t) =>
        val before = cum
        cum += t
        (id, t, before / sh)
      }
    }
    val out = s.createDataFrame(stamped).toDF("doc_id", "t", "shard_id")
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
    graft.CacheScope.releaseAfterUse(out, cached)
  }

  val shardManifestSql: String = s"""
    WITH t AS (
      SELECT doc_id, CAST(${wsTokensSql("text")} AS BIGINT) AS t FROM documents),
    c AS (
      SELECT doc_id, t,
        CAST(COALESCE(SUM(t) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $ShardTokens
          AS BIGINT) AS shard_id
      FROM t)
    SELECT shard_id, COUNT(*) AS n_docs,
      CAST(SUM(t) AS BIGINT) AS total_tokens,
      MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY shard_id ORDER BY shard_id"""

  /** H36 — token-budget WATER-FILLING across sources (round-12; the
    * data-constrained mixing primitive of Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models": when the training budget
    * exceeds what sources can contribute without over-repeating, allocate
    * fairly under per-source REPETITION CAPS). Each source's capacity is
    * max_epochs · tokens (max_epochs ∈ [1,4], a deterministic per-source
    * hash standing in for the quality-based epoch policy a real run
    * carries); the budget is 1.5× the corpus's unique tokens (repetition
    * territory by construction). Exact integer water-filling: sort
    * sources by capacity, saturate every source whose capacity sits below
    * the running fair share (a prefix, by the standard argument for
    * ascending capacities: cap_i·(n−i+1) ≤ B−P_{i−1}), give every
    * remaining source the common level ⌊(B−P_k)/(n−k)⌋. All comparisons
    * and divisions are integer, so the DuckDB twin replays the allocation
    * bit for bit. Shape: one scan → |sources|-row frame; the rank/prefix
    * window and the two 1-row reduces run over that tiny frame (the
    * skew_report discipline), never the corpus.
    */
  def budgetWaterfill(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(wsTokens(col("text")).cast("long")).as("n_tokens"))
      .withColumn("max_epochs",
        lit(1L) + pmod(graft.plans.MixHash.polyHashCol(col("source")), lit(4L)))
      .withColumn("capacity", col("max_epochs") * col("n_tokens"))
    val w = Window.orderBy(col("capacity"), col("source"))
    val ranked = tok
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("pfx", sum(col("capacity")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = tok.agg(count(lit(1)).as("n_src"), sum(col("n_tokens")).as("tot"))
      .select(col("n_src"), expr("(tot * 3) DIV 2").as("budget"))
    val sat = ranked.crossJoin(broadcast(tot))
      .withColumn("saturated",
        col("capacity") * (col("n_src") - col("rn") + 1) <=
          col("budget") - (col("pfx") - col("capacity")))
    val kpk = sat.agg(
        max(when(col("saturated"), col("rn"))).as("k0"),
        max(when(col("saturated"), col("pfx"))).as("pk0"))
      .select(coalesce(col("k0"), lit(0L)).as("k"),
        coalesce(col("pk0"), lit(0L)).as("pk"))
    sat.crossJoin(broadcast(kpk))
      .withColumn("allocation", when(col("saturated"), col("capacity"))
        .otherwise(expr("(budget - pk) DIV (n_src - k)")))
      .select(col("source"), col("n_tokens"), col("max_epochs"),
        col("capacity"), col("allocation"), col("saturated"),
        expr("(10000 * allocation) DIV n_tokens").as("epochs_bps"))
  }

  /** The H36 CTE chain through the final per-source allocation (`alloc`) —
    * shared verbatim by the H36 gate and the H44 epoch-materialization
    * consumer (one allocation definition, two oracles). */
  private val waterfillCtes: String = {
    import graft.plans.MixHash._
    s"""srcs AS (
      SELECT source, CAST(SUM(${wsTokensSql("text")}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    ${sqlMixedCtes("srcs", "source", Seq("source", "n_tokens"), "sh")},
    caps AS (
      SELECT source, n_tokens, CAST(1 + h % 4 AS BIGINT) AS max_epochs,
        CAST((1 + h % 4) * n_tokens AS BIGINT) AS capacity
      FROM sh),
    tot AS (
      SELECT COUNT(*) AS n_src,
        (SUM(n_tokens) * 3) // 2 AS budget
      FROM caps),
    ranked AS (
      SELECT source, n_tokens, max_epochs, capacity,
        ROW_NUMBER() OVER (ORDER BY capacity, source) AS rn,
        SUM(capacity) OVER (ORDER BY capacity, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
      FROM caps),
    sat AS (
      SELECT r.*, t.n_src, t.budget,
        r.capacity * (t.n_src - r.rn + 1) <= t.budget - (r.pfx - r.capacity)
          AS saturated
      FROM ranked r, tot t),
    kpk AS (
      SELECT COALESCE(MAX(CASE WHEN saturated THEN rn END), 0) AS k,
        COALESCE(MAX(CASE WHEN saturated THEN pfx END), 0) AS pk
      FROM sat),
    alloc AS (
      SELECT s.source, s.n_tokens, s.max_epochs, s.capacity,
        CAST(CASE WHEN s.saturated THEN s.capacity
          ELSE (s.budget - kpk.pk) // (s.n_src - kpk.k) END AS BIGINT)
          AS allocation,
        s.saturated,
        CAST((10000 * CASE WHEN s.saturated THEN s.capacity
          ELSE (s.budget - kpk.pk) // (s.n_src - kpk.k) END) // s.n_tokens
          AS BIGINT) AS epochs_bps
      FROM sat s, kpk)"""
  }

  val budgetWaterfillSql: String = s"""
    WITH $waterfillCtes
    SELECT source, n_tokens, max_epochs, capacity, allocation, saturated,
      epochs_bps
    FROM alloc ORDER BY source"""

  /** H45 — TEMPERATURE-scaled source mixing (the multilingual/multi-source
    * standard: sampling weight ∝ share^(1/T), T = 2 here — the flattening
    * exponent multilingual training mixes publish): upweights small
    * sources and damps dominant ones, the knob between proportional
    * sampling (T=1, head domination) and uniform (T→∞, tail over-repeat).
    * Exact integer arithmetic end to end: the temperature weight is the
    * INTEGER square root — floor(√x) from the IEEE double sqrt plus a
    * two-sided multiplication correction, exact for any x < 2^52, so both
    * engines land on the same integer with no float in the ranking — and
    * shares/allocations are floor divisions against the 1-row totals. The
    * allocation spends the H36 budget (1.5× unique tokens), so the two
    * mixing policies are directly comparable rows. One scan →
    * |sources|-row frame; the totals are the combine_global shape.
    */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(wsTokens(col("text")).cast("long")).as("n_tokens"))
      .withColumn("s0",
        expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
      .withColumn("w_root", expr(
        "s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN 1 ELSE 0 END)" +
          " - (CASE WHEN s0 * s0 > n_tokens THEN 1 ELSE 0 END)"))
    val tot = tok.agg(sum(col("n_tokens")).as("tot_tokens"),
        sum(col("w_root")).as("tot_root"))
      .withColumn("budget", expr("(tot_tokens * 3) DIV 2"))
    tok.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("w_root"),
        expr("(10000 * n_tokens) DIV tot_tokens").as("share_bps"),
        expr("(10000 * w_root) DIV tot_root").as("temp_share_bps"),
        expr("(budget * w_root) DIV tot_root").as("alloc_tokens"))
  }

  val mixTemperatureSql: String = s"""
    WITH srcs AS (
      SELECT source, CAST(SUM(${wsTokensSql("text")}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    rt AS (
      SELECT source, n_tokens,
        CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
      FROM srcs),
    wr AS (
      SELECT source, n_tokens,
        s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN 1 ELSE 0 END)
           - (CASE WHEN s0 * s0 > n_tokens THEN 1 ELSE 0 END) AS w_root
      FROM rt),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        CAST(SUM(w_root) AS BIGINT) AS tot_root,
        (CAST(SUM(n_tokens) AS BIGINT) * 3) // 2 AS budget
      FROM wr)
    SELECT w.source, w.n_tokens, CAST(w.w_root AS BIGINT) AS w_root,
      CAST((10000 * w.n_tokens) // t.tot_tokens AS BIGINT) AS share_bps,
      CAST((10000 * w.w_root) // t.tot_root AS BIGINT) AS temp_share_bps,
      CAST((t.budget * w.w_root) // t.tot_root AS BIGINT) AS alloc_tokens
    FROM wr w, tot t ORDER BY w.source"""

  /** H44 — EPOCH MATERIALIZATION of the water-filling allocation (H36's
    * consumer): turn each source's token allocation into the repeat
    * schedule a training job actually runs — `allocation DIV n_tokens`
    * full passes over the source plus ONE deterministic partial epoch
    * covering the remainder. The partial epoch is a prefix of the source's
    * H11 shuffle order (splitmix64(doc_id) rank): a doc is in iff the
    * cumulative tokens BEFORE it are < the remainder (the H5 packing
    * convention — overshoot bounded by one document), so the prefix is
    * reproducible across runs, engines, and cluster sizes. Per source the
    * report pins the full-epoch count, the remainder, and the partial
    * prefix's exact doc/token mass — the numbers a dataloader manifest
    * needs to replay the Muennighoff schedule.
    *
    * Shape: the H36 frame (one scan → |sources| rows) + one scan for the
    * per-doc cumsum window (PARTITIONED by source — data-sized but never
    * global), remainder join broadcast. All-integer; the oracle replays
    * allocation + prefix off the shared waterfill CTE chain.
    */
  def mixEpochs(s: SparkSession, d: String): DataFrame = {
    val wf = budgetWaterfill(s, d)
      .select(col("source"), col("n_tokens"), col("allocation"))
      .withColumn("full_epochs", expr("allocation DIV n_tokens"))
      .withColumn("rem_tokens", expr("allocation % n_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("hv"), col("doc_id"))
    val partial = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        wsTokens(col("text")).cast("long").as("t"),
        graft.plans.MixHash.splitmix64Col(col("doc_id")).as("hv"))
      .withColumn("cum_before", coalesce(
        sum(col("t")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .join(broadcast(wf.select(col("source"), col("rem_tokens"))), "source")
      .filter(col("cum_before") < col("rem_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("partial_docs"), sum(col("t")).as("partial_tokens"))
    wf.join(partial, Seq("source"), "left")
      .select(col("source"), col("n_tokens"), col("allocation"),
        col("full_epochs"), col("rem_tokens"),
        coalesce(col("partial_docs"), lit(0L)).as("partial_docs"),
        coalesce(col("partial_tokens"), lit(0L)).as("partial_tokens"))
  }

  val mixEpochsSql: String = {
    import graft.plans.MixHash._
    s"""
    WITH $waterfillCtes,
    wfe AS (
      SELECT source, n_tokens, allocation,
        allocation // n_tokens AS full_epochs,
        allocation % n_tokens AS rem_tokens
      FROM alloc),
    e0 AS (SELECT doc_id, source, CAST(${wsTokensSql("text")} AS BIGINT) AS t,
             CAST(doc_id AS HUGEINT) AS z FROM documents),
    e1 AS (SELECT doc_id, source, t, ${sqlMixStep1("z")} AS z FROM e0),
    e2 AS (SELECT doc_id, source, t, ${sqlMixStep2("z")} AS z FROM e1),
    e3 AS (SELECT doc_id, source, t, ${sqlMixStep3("z")} AS z FROM e2),
    e4 AS (SELECT doc_id, source, t, ${sqlMixStep4("z")} AS z FROM e3),
    eh AS (SELECT doc_id, source, t, ${sqlToSigned("z")} AS hv FROM e4),
    cum AS (
      SELECT source, doc_id, t,
        COALESCE(SUM(t) OVER (PARTITION BY source ORDER BY hv, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM eh),
    p AS (
      SELECT c.source, COUNT(*) AS partial_docs,
        CAST(SUM(c.t) AS BIGINT) AS partial_tokens
      FROM cum c JOIN wfe USING (source)
      WHERE c.cum_before < wfe.rem_tokens GROUP BY 1)
    SELECT w.source, w.n_tokens, w.allocation,
      CAST(w.full_epochs AS BIGINT) AS full_epochs,
      CAST(w.rem_tokens AS BIGINT) AS rem_tokens,
      CAST(COALESCE(p.partial_docs, 0) AS BIGINT) AS partial_docs,
      CAST(COALESCE(p.partial_tokens, 0) AS BIGINT) AS partial_tokens
    FROM wfe w LEFT JOIN p USING (source) ORDER BY w.source"""
  }

  val ops: Map[String, Op] = Map(
    "corpus_budget_waterfill" -> Op(budgetWaterfill _, budgetWaterfillSql),
    "corpus_mix_epochs" -> Op(mixEpochs _, mixEpochsSql),
    "corpus_mix_temperature" -> Op(mixTemperature _, mixTemperatureSql),
    "corpus_shard_manifest" -> Op(shardManifest _, shardManifestSql),
    "corpus_funnel_report" -> Op(funnelReport _, funnelReportSql),
    "corpus_clean" -> Op(corpusClean _, corpusCleanSql),
    "corpus_curriculum" -> Op(curriculum _, curriculumSql),
    "corpus_row_ids" -> Op(rowIds _, rowIdsSql),
    "corpus_sample_weighted" -> Op(sampleWeighted _, sampleWeightedSql),
    "corpus_sample_quota" -> Op(sampleQuota _, sampleQuotaSql),
    "corpus_shuffle" -> Op(corpusShuffle _, corpusShuffleSql),
    "corpus_mix_order" -> Op(mixOrder _, mixOrderSql),
    "corpus_prepare" -> Op(corpusPrepare _, corpusPrepareSql),
    "corpus_prepare_v2" -> Op(corpusPrepareV2 _, corpusPrepareV2Sql),
    "corpus_prepare_incremental" -> Op(corpusPrepareIncremental _, corpusPrepareIncrementalSql),
    "corpus_split" -> Op(trainSplit _, splitSql),
    "corpus_split_stratified" -> Op(splitStratified _, splitStratifiedSql),
    "corpus_token_stats" -> Op(tokenStats _, tokenStatsSql),
    "corpus_token_budget" -> Op(tokenBudget _, tokenBudgetSql),
    "corpus_decontaminate" -> Op(decontaminate _, decontaminateSql),
    "corpus_decontaminate_spans" -> Op(decontaminateSpans _, decontaminateSpansSql),
    "corpus_sample_mix" -> Op(sampleMix _, sampleMixSql),
    "corpus_chunk" -> Op(chunk _, chunkSql),
    "corpus_pack" -> Op(pack _, packSql),
    "corpus_pack_report" -> Op(packReport _, packReportSql),
    "corpus_pack_bpe" -> Op(packBpe _, packBpeSql)
  )
}
