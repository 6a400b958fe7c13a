package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.BpeDynamic
import graft.SparkEntry.Op

/** H33-H35 (SURVEY §2, round-11 verdict item 2): in-engine BPE merge-table
  * TRAINING — the distributed shape of sentencepiece/BPE vocabulary
  * learning (Sennrich et al. 2016), which H18b only APPLIED from a fixed
  * demo table.
  *
  * Training is K rounds of corpus-wide max-frequency bigram selection, the
  * [[Graph.pagerank]] loop discipline: each round is ONE distributed
  * aggregation (per-doc adjacent-pair keys under the rules learned so far
  * — a native kernel, [[graft.plans.BpeDynamic]] — exploded into Spark's
  * map-side-combining count agg) plus ONE broadcast of the winning rule
  * (driver state = the K-row rule table; the 1-row argmax `head()` is a
  * bounded collect by construction). Tie-breaks are deterministic: count
  * DESC, then pair key (a·2^21+b) ASC — `max(struct(cnt, -pk))` on the
  * Spark side, `ORDER BY cnt DESC, pk ASC LIMIT 1` in the oracle. Merge
  * symbols are allocated in the Unicode PRIVATE USE AREA (U+E100+r), so
  * the DuckDB oracle can replay every round as a literal string rewrite —
  * the pinned H18b equivalence (a merge pass == a left-to-right
  * non-overlapping `replace`).
  *
  * The learned table is a STORED ARTIFACT (parquet, versioned by corpus
  * fingerprint via [[graft.Artifacts.stored]] — the F3/F5 index
  * discipline): training runs once per corpus generation, and every
  * consumer (the gated readback, the learned token counts, the learned
  * packing) reads the stored table instead of retraining.
  *
  * Scale shape: a round's shuffle carries only DISTINCT pair keys after
  * map-side combine (vocabulary-sized, not corpus-sized); the argmax is a
  * single-row global agg; the corpus is scanned K times — at 100 TB one
  * would sample the pair statistics (sentencepiece does), which is one
  * `TABLESAMPLE` away from this exact plan. Oracle: the full K-round
  * replay as MATERIALIZED CTEs (inlined CTEs re-derive the whole replace
  * chain per round — O(K²·corpus); materialization keeps the replay
  * linear, measured 115 s → 1.1 s at sf0.01).
  */
object BpeTrain {

  /** Rounds to learn. 12 is enough to show real compounding on this corpus
    * (rounds 7-8 merge PREVIOUSLY-LEARNED symbols with ' ') while keeping
    * the unrolled oracle readable. */
  val Rounds = 12
  /** First merge-symbol codepoint (PUA, clear of the fixed H18b table's
    * U+E000-U+E04F block so the two vocabularies can coexist). */
  val MergeBase = 0xE100

  // ------------------------------------------------------------------
  // training
  // ------------------------------------------------------------------

  /** The shared K-round max-frequency loop over a prepared text frame.
    * `excludeSym`: pairs touching this symbol are never counted — the
    * pre-tokenization boundary (merges must not cross pre-token edges,
    * and since excluded pairs are never learned, rule APPLICATION needs
    * no change: no learned rule can contain the separator). */
  private def trainLoop(docs: org.apache.spark.sql.DataFrame, mergeBase: Int,
      excludeSym: Option[Int]): Seq[(Int, Int, Int, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Long)]
    var ra = Seq.empty[Int]; var rb = Seq.empty[Int]; var rm = Seq.empty[Int]
    var r = 0
    while (r < Rounds) {
      val pairs = docs
        .select(explode(BpeDynamic.pairKeysCol(col("text"), ra, rb, rm)).as("pk"))
      val kept = excludeSym match {
        case Some(x) => pairs.filter(expr(
          s"pk DIV ${BpeDynamic.PairBase} <> ${x}L AND pk % ${BpeDynamic.PairBase} <> ${x}L"))
        case None => pairs
      }
      val best = kept
        .groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
        .agg(max(struct(col("cnt"), (-col("pk")).as("npk"))).as("m"))
        .select(col("m.cnt").as("cnt"), (-col("m.npk")).as("pk"))
        .head()
      val cnt = best.getLong(0)
      val pk = best.getLong(1)
      val a = (pk / BpeDynamic.PairBase).toInt
      val b = (pk % BpeDynamic.PairBase).toInt
      val m = mergeBase + r
      out += ((a, b, m, cnt))
      ra :+= a; rb :+= b; rm :+= m
      r += 1
    }
    out.toSeq
  }

  /** One training run: K rounds over the persisted corpus. Returns
    * (sym_a, sym_b, merged, n_pairs) per round in learned order. */
  private def trainRules(s: SparkSession, d: String): Seq[(Int, Int, Int, Long)] =
    graft.CacheScope.run {
      trainLoop(graft.CacheScope.persist(Tables.documents(s, d).select(col("text"))),
        MergeBase, None)
    }

  /** Stored-artifact location of the learned table for corpus `d` (train
    * once per corpus fingerprint, parquet out, consumers read back). */
  private def rulesLocation(s: SparkSession, d: String): String =
    graft.Artifacts.stored(s, "bpe_rules", d, Seq("documents.parquet")) { dir =>
      val rows = trainRules(s, d).zipWithIndex.map { case ((a, b, m, cnt), i) =>
        (i + 1, a.toLong, b.toLong, m.toLong, cnt)
      }
      import s.implicits._
      rows.toDF("round", "sym_a", "sym_b", "merged", "n_pairs")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** The learned rule table, read back from the stored artifact (K rows —
    * bounded driver state by construction). */
  private[graft] def learnedRules(s: SparkSession, d: String): (Seq[Int], Seq[Int], Seq[Int]) = {
    val rows = graft.Artifacts.parquet(s, rulesLocation(s, d))
      .orderBy(col("round")).collect()
    (rows.map(_.getAs[Long]("sym_a").toInt).toSeq,
      rows.map(_.getAs[Long]("sym_b").toInt).toSeq,
      rows.map(_.getAs[Long]("merged").toInt).toSeq)
  }

  // ------------------------------------------------------------------
  // gated operators
  // ------------------------------------------------------------------

  /** H33 — the learned merge table itself: per round, the winning pair
    * (as symbol ids), its allocated merge symbol, and the pair count that
    * won. Reads the STORED artifact — the gate proves the parquet
    * round-trip as well as the training. */
  def trainMerges(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.parquet(s, rulesLocation(s, d))
      .select(col("round"), col("sym_a"), col("sym_b"), col("merged"), col("n_pairs"))

  /** H34 — per-document token counts under the LEARNED table (H18b's
    * count re-derived under learned merges instead of the fixed demo
    * table): one scan, one native kernel call per row. */
  def learnedTokens(s: SparkSession, d: String): DataFrame = {
    val (ra, rb, rm) = learnedRules(s, d)
    Tables.documents(s, d)
      .select(col("doc_id"),
        BpeDynamic.countWithCol(col("text"), ra, rb, rm).cast("long").as("n_tokens"))
  }

  /** H35 — sequence packing (H5's operator) consuming the LEARNED token
    * counts: the verdict-prescribed consumer proving the trained table
    * feeds the downstream pipeline, not just a report. Same chunking and
    * packing shape as `corpus_pack_bpe`, with the chunk cost function
    * swapped to the learned table. */
  def packBpeLearned(s: SparkSession, d: String): DataFrame = {
    import CorpusClean.{ChunkStride, ChunkTokens, PackBudget, PackGroups}
    val (ra, rb, rm) = learnedRules(s, d)
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
        BpeDynamic.countWithCol(concat_ws(" ", col("chunk")), ra, rb, rm).as("n_tokens"))
      .withColumn("grp", pmod(col("doc_id"), lit(PackGroups.toLong)))
      .withColumn("cum_before",
        sum(col("n_tokens").cast("long")).over(grpW) - col("n_tokens"))
      .withColumn("pack_seq", expr(s"cum_before DIV $PackBudget"))
      .groupBy(col("grp"), col("pack_seq"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens").cast("long")).as("n_tokens"))
  }

  // ------------------------------------------------------------------
  // oracles: the K-round training replay as MATERIALIZED CTEs
  // ------------------------------------------------------------------

  /** CTE chain `s0 … s{K}` + `p1 … p{K}`: round r counts every adjacent
    * codepoint pair of state s_{r-1} positionally, picks the (cnt DESC,
    * pk ASC) argmax, and rewrites the corpus with the PUA merge symbol.
    * MATERIALIZED is load-bearing — see the object scaladoc.
    */
  private[operators] def trainingCtes: String = {
    val pb = BpeDynamic.PairBase
    val parts = scala.collection.mutable.ArrayBuffer(
      "s0 AS MATERIALIZED (SELECT doc_id, text AS s FROM documents)")
    (1 to Rounds).foreach { r =>
      parts += s"""b$r AS (
        SELECT pk, count(*) AS cnt FROM (
          SELECT CAST(ord(substring(s, CAST(pos AS INT), 1)) AS BIGINT) * $pb
               + ord(substring(s, CAST(pos AS INT) + 1, 1)) AS pk
          FROM (SELECT s, unnest(range(1, length(s))) AS pos FROM s${r - 1}))
        GROUP BY 1)"""
      parts += s"p$r AS MATERIALIZED (SELECT pk, cnt FROM b$r ORDER BY cnt DESC, pk ASC LIMIT 1)"
      parts += s"""s$r AS MATERIALIZED (
        SELECT doc_id, replace(s,
          chr(CAST(pk // $pb AS INT)) || chr(CAST(pk % $pb AS INT)),
          chr(${MergeBase + r - 1})) AS s
        FROM s${r - 1}, p$r)"""
    }
    parts.mkString(",\n")
  }

  private def trainMergesSql: String = {
    val pb = BpeDynamic.PairBase
    val rows = (1 to Rounds).map { r =>
      s"""SELECT CAST($r AS INTEGER) AS round,
        CAST(pk // $pb AS BIGINT) AS sym_a, CAST(pk % $pb AS BIGINT) AS sym_b,
        CAST(${MergeBase + r - 1} AS BIGINT) AS merged,
        CAST(cnt AS BIGINT) AS n_pairs FROM p$r"""
    }.mkString(" UNION ALL ")
    s"WITH $trainingCtes\nSELECT * FROM ($rows) ORDER BY round"
  }

  private def learnedTokensSql: String =
    s"""WITH $trainingCtes
    SELECT doc_id, CAST(length(s) AS BIGINT) AS n_tokens
    FROM s$Rounds ORDER BY doc_id"""

  /** The learned replace chain applied to an arbitrary string expression
    * (each round's pattern is a scalar subquery over its p CTE). */
  private[operators] def learnedChain(x: String): String = {
    val pb = BpeDynamic.PairBase
    (1 to Rounds).foldLeft(x) { (acc, r) =>
      s"""replace($acc, (SELECT chr(CAST(pk // $pb AS INT)) || chr(CAST(pk % $pb AS INT)) FROM p$r), chr(${MergeBase + r - 1}))"""
    }
  }

  private def packBpeLearnedSql: String = {
    import CorpusClean.{ChunkStride, ChunkTokens, PackBudget, PackGroups}
    s"""WITH $trainingCtes,
    w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    k AS (SELECT doc_id, ws,
            unnest(range(((len(ws) - 1) // $ChunkStride) + 1)) AS chunk_idx
          FROM w),
    c AS (SELECT doc_id, chunk_idx,
            length(${learnedChain(s"array_to_string(ws[chunk_idx * $ChunkStride + 1 : " +
              s"chunk_idx * $ChunkStride + $ChunkTokens], ' ')")}) AS n_tokens
          FROM k),
    g AS (SELECT doc_id, chunk_idx, n_tokens, doc_id % $PackGroups AS grp FROM c),
    cum AS (SELECT grp, n_tokens,
              SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id, chunk_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
            FROM g)
    SELECT grp, CAST(cum_before // $PackBudget AS BIGINT) AS pack_seq,
      COUNT(*) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM cum GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  /** H38 — vocabulary COVERAGE under the learned table, per source: how
    * much of each source the learned merges actually compress (merged
    * fraction in basis points = 10000·(codepoints − tokens)/codepoints) —
    * the per-source tokenizer-fit diagnostic that tells a multilingual/
    * multi-domain corpus team WHICH sources the vocabulary serves poorly
    * (the H30 fertility question, re-keyed to the LEARNED table). One
    * scan, one kernel call per row, |sources|-row output.
    */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val (ra, rb, rm) = learnedRules(s, d)
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_codepoints"),
        sum(BpeDynamic.countWithCol(col("text"), ra, rb, rm).cast("long"))
          .as("n_tokens"))
      .select(col("source"), col("n_docs"), col("n_codepoints"), col("n_tokens"),
        expr("(10000 * (n_codepoints - n_tokens)) DIV n_codepoints")
          .as("merged_bps"))
  }

  private def vocabCoverageSql: String =
    s"""WITH $trainingCtes
    SELECT d.source, COUNT(*) AS n_docs,
      CAST(SUM(length(d.text)) AS BIGINT) AS n_codepoints,
      CAST(SUM(length(f.s)) AS BIGINT) AS n_tokens,
      CAST((10000 * (SUM(length(d.text)) - SUM(length(f.s))))
        // SUM(length(d.text)) AS BIGINT) AS merged_bps
    FROM documents d JOIN s$Rounds f ON f.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source"""

  /** H54 — token-ID sequence EMISSION (round-15, verdict item 5): the
    * last step of the corpus pipeline, the one a training job actually
    * loads. Applies the stored H33 merge table, builds the dense
    * vocabulary (distinct merged symbols, sorted — id = rank), and emits
    * each document's id sequence; the gate carries the exact
    * length + md5-of-comma-joined-ids so rows stay bounded while every
    * id is pinned. Two corpus scans by design — the sentencepiece shape:
    * pass 1 enumerates the vocabulary (shuffle carries only DISTINCT
    * symbols after map-side combine, vocabulary-sized not corpus-sized;
    * the collect is bounded by construction: ASCII corpus codepoints +
    * [[Rounds]] merge symbols), pass 2 encodes with the vocabulary baked
    * into the kernel as plan constants — no join on the hot path, one
    * codegen'd call per row. Empty documents are filtered (no tokens to
    * emit; both engines drop those rows). */
  def tokenizeIds(s: SparkSession, d: String): DataFrame = {
    val (ra, rb, rm) = learnedRules(s, d)
    val docs = Tables.documents(s, d)
      .filter(char_length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
    val vocab = docs
      .select(explode(BpeDynamic.symbolsCol(col("text"), ra, rb, rm)).as("sym"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    docs.select(col("doc_id"),
      BpeDynamic.encodeIdsCol(col("text"), ra, rb, rm, vocab).as("ids"))
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_ids"),
        graft.plans.MediaCodecs.md5CsvCol(col("ids")).as("ids_md5"))
  }

  /** Invert [[tokenizeIds]]' encoding for a planted document set: id →
    * symbol via the sorted vocabulary, then recursive merge-symbol
    * expansion through the rule table (later rules may reference earlier
    * merge symbols), then codepoints → text. Round-trip support for the
    * spec and for debugging a trained vocabulary. */
  private[graft] def detokenize(ids: Seq[Int], vocab: Seq[Int],
      ra: Seq[Int], rb: Seq[Int], rm: Seq[Int]): String = {
    val expand = rm.indices.map(i => rm(i) -> (ra(i), rb(i))).toMap
    def expandSym(sym: Int): Seq[Int] = expand.get(sym) match {
      case Some((a, b)) => expandSym(a) ++ expandSym(b)
      case None => Seq(sym)
    }
    val sb = new java.lang.StringBuilder
    ids.flatMap(id => expandSym(vocab(id)))
      .foreach(cp => sb.appendCodePoint(cp))
    sb.toString
  }

  /** H54's oracle: replay the merge chain (the H33 CTEs), enumerate the
    * final states positionally, rank distinct symbols for the dense ids,
    * and rebuild each document's id list in order. */
  private def tokenizeIdsSql: String =
    s"""WITH $trainingCtes,
    fin AS MATERIALIZED (SELECT doc_id, s FROM s$Rounds WHERE length(s) > 0),
    u AS MATERIALIZED (
      SELECT doc_id, pos, ord(substring(s, CAST(pos AS INT), 1)) AS sym
      FROM (SELECT doc_id, s, unnest(range(1, length(s) + 1)) AS pos FROM fin)),
    vocab AS MATERIALIZED (
      SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS INTEGER) AS id
      FROM (SELECT DISTINCT sym FROM u)),
    ids AS (
      SELECT u.doc_id, list(v.id ORDER BY u.pos) AS ids
      FROM u JOIN vocab v ON v.sym = u.sym GROUP BY u.doc_id)
    SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_ids,
      md5(array_to_string(ids, ',')) AS ids_md5
    FROM ids ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // H41/H42 — GPT-2-STYLE PRE-TOKENIZED training (round-12 verdict item 8)
  // ------------------------------------------------------------------

  /** Pre-token boundary marker (PUA, clear of the fixed table's
    * U+E000-E04F block AND both learned merge ranges). A marker char is
    * appended after every pre-token match; pairs touching it are excluded
    * from training, so merges can never cross a pre-token edge. */
  val PretokSepCp = 0xE0FF
  val PretokSep: String = new String(Character.toChars(PretokSepCp))
  /** First merge-symbol codepoint for the pre-tokenized table (own PUA
    * range — the two learned vocabularies must coexist). */
  val MergeBasePretok = 0xE200

  /** The public GPT-2 pre-tokenization pattern (contractions, optionally
    * space-prefixed letter/digit/punctuation runs, whitespace runs),
    * minus the trailing `\\s+(?!\\S)` lookahead clause — RE2 (the oracle's
    * engine) has no lookahead, and the whitespace classes are written
    * explicitly because Java's `\\s` includes U+000B while RE2's does not.
    */
  val PretokRe: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\p{L}\\p{N}]+|[ \\t\\n\\r]+"

  /** Every pre-token match gets the boundary marker appended — one shared
    * definition for training, counting, and (as [[pretokSql]]) the oracle. */
  def pretokCol(c: Column): Column = regexp_replace(c, PretokRe, "$0" + PretokSep)

  def pretokSql(x: String): String = {
    val pat = PretokRe.replace("'", "''")
    s"regexp_replace($x, '$pat', '\\0' || chr($PretokSepCp), 'g')"
  }

  private def trainRulesPretok(s: SparkSession, d: String): Seq[(Int, Int, Int, Long)] =
    graft.CacheScope.run {
      trainLoop(graft.CacheScope.persist(
          Tables.documents(s, d).select(pretokCol(col("text")).as("text"))),
        MergeBasePretok, Some(PretokSepCp))
    }

  private def pretokRulesLocation(s: SparkSession, d: String): String =
    graft.Artifacts.stored(s, "bpe_pretok_rules", d, Seq("documents.parquet")) { dir =>
      val rows = trainRulesPretok(s, d).zipWithIndex.map { case ((a, b, m, cnt), i) =>
        (i + 1, a.toLong, b.toLong, m.toLong, cnt)
      }
      import s.implicits._
      rows.toDF("round", "sym_a", "sym_b", "merged", "n_pairs")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }

  private[graft] def learnedRulesPretok(s: SparkSession, d: String): (Seq[Int], Seq[Int], Seq[Int]) = {
    val rows = graft.Artifacts.parquet(s, pretokRulesLocation(s, d))
      .orderBy(col("round")).collect()
    (rows.map(_.getAs[Long]("sym_a").toInt).toSeq,
      rows.map(_.getAs[Long]("sym_b").toInt).toSeq,
      rows.map(_.getAs[Long]("merged").toInt).toSeq)
  }

  /** H41 — the PRE-TOKENIZED merge table: training never counts a pair
    * across a pre-token boundary, the structural gap between plain BPE
    * and real tokenizers (Sennrich trains within words; GPT-2 within its
    * regex pre-tokens). The spec shows the learned rules genuinely differ
    * from H33's boundary-free table. */
  def trainMergesPretok(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.parquet(s, pretokRulesLocation(s, d))
      .select(col("round"), col("sym_a"), col("sym_b"), col("merged"), col("n_pairs"))

  /** H42 — tokenizer fertility RE-DERIVED under the pre-tokenized learned
    * table (H30's report, token counts from H41's vocabulary): per-doc
    * tokens = merged length of the pre-tokenized string minus the
    * boundary markers (one per pre-token, untouched by every merge). */
  def fertilityPretok(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions._
    val (ra, rb, rm) = learnedRulesPretok(s, d)
    Tables.documents(s, d)
      .select(col("source"), langId(col("text")).as("pred_lang"),
        wsTokens(col("text")).cast("long").as("nw"),
        (BpeDynamic.countWithCol(pretokCol(col("text")), ra, rb, rm).cast("long")
          - (length(pretokCol(col("text"))) - length(col("text"))).cast("long"))
          .as("nb"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("source"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("words"), sum(col("nb")).as("bpe_tokens"),
        sum(col("nc")).as("chars"))
      .withColumn("fertility_milli",
        expr("(1000 * bpe_tokens) DIV greatest(words, 1L)"))
      .withColumn("chars_per_tok_milli",
        expr("(1000 * chars) DIV greatest(bpe_tokens, 1L)"))
  }

  /** CTE chain `t0 … t{K}` + `tp1 … tp{K}`: the H33 replay over the
    * PRE-TOKENIZED corpus, with boundary pairs excluded from each round's
    * count (the marker is never part of a rule, so the replace-chain
    * rewrite needs no exclusion). */
  private def pretokTrainingCtes: String = {
    val pb = BpeDynamic.PairBase
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""t0 AS MATERIALIZED (
        SELECT doc_id, ${pretokSql("text")} AS s FROM documents)""")
    (1 to Rounds).foreach { r =>
      parts += s"""tb$r AS (
        SELECT pk, count(*) AS cnt FROM (
          SELECT CAST(ord(substring(s, CAST(pos AS INT), 1)) AS BIGINT) * $pb
               + ord(substring(s, CAST(pos AS INT) + 1, 1)) AS pk
          FROM (SELECT s, unnest(range(1, length(s))) AS pos FROM t${r - 1}))
        WHERE pk // $pb <> $PretokSepCp AND pk % $pb <> $PretokSepCp
        GROUP BY 1)"""
      parts += s"tp$r AS MATERIALIZED (SELECT pk, cnt FROM tb$r ORDER BY cnt DESC, pk ASC LIMIT 1)"
      parts += s"""t$r AS MATERIALIZED (
        SELECT doc_id, replace(s,
          chr(CAST(pk // $pb AS INT)) || chr(CAST(pk % $pb AS INT)),
          chr(${MergeBasePretok + r - 1})) AS s
        FROM t${r - 1}, tp$r)"""
    }
    parts.mkString(",\n")
  }

  private def trainMergesPretokSql: String = {
    val pb = BpeDynamic.PairBase
    val rows = (1 to Rounds).map { r =>
      s"""SELECT CAST($r AS INTEGER) AS round,
        CAST(pk // $pb AS BIGINT) AS sym_a, CAST(pk % $pb AS BIGINT) AS sym_b,
        CAST(${MergeBasePretok + r - 1} AS BIGINT) AS merged,
        CAST(cnt AS BIGINT) AS n_pairs FROM tp$r"""
    }.mkString(" UNION ALL ")
    s"WITH $pretokTrainingCtes\nSELECT * FROM ($rows) ORDER BY round"
  }

  private def fertilityPretokSql: String = {
    import graft.functions.TextFunctions._
    s"""WITH $pretokTrainingCtes,
    f AS (
      SELECT d.source, ${langIdSql("d.text")} AS pred_lang,
        CAST(${wsTokensSql("d.text")} AS BIGINT) AS nw,
        CAST(length(fk.s) - (length(f0.s) - length(d.text)) AS BIGINT) AS nb,
        CAST(length(d.text) AS BIGINT) AS nc
      FROM documents d
      JOIN t0 f0 ON f0.doc_id = d.doc_id
      JOIN t$Rounds fk ON fk.doc_id = d.doc_id),
    g AS (
      SELECT source, pred_lang, COUNT(*) AS n_docs,
        CAST(SUM(nw) AS BIGINT) AS words, CAST(SUM(nb) AS BIGINT) AS bpe_tokens,
        CAST(SUM(nc) AS BIGINT) AS chars
      FROM f GROUP BY 1, 2)
    SELECT source, pred_lang, n_docs, words, bpe_tokens, chars,
      CAST((1000 * bpe_tokens) // greatest(words, 1) AS BIGINT) AS fertility_milli,
      CAST((1000 * chars) // greatest(bpe_tokens, 1) AS BIGINT) AS chars_per_tok_milli
    FROM g ORDER BY source, pred_lang"""
  }

  val ops: Map[String, Op] = Map(
    "bpe_train_merges_pretok" -> Op(trainMergesPretok _, trainMergesPretokSql),
    "corpus_fertility_pretok" -> Op(fertilityPretok _, fertilityPretokSql),
    "bpe_vocab_coverage" -> Op(vocabCoverage _, vocabCoverageSql),
    "bpe_train_merges" -> Op(trainMerges _, trainMergesSql),
    "bpe_learned_tokens" -> Op(learnedTokens _, learnedTokensSql),
    "corpus_pack_bpe_learned" -> Op(packBpeLearned _, packBpeLearnedSql),
    "corpus_tokenize_ids" -> Op(tokenizeIds _, tokenizeIdsSql)
  )
}
