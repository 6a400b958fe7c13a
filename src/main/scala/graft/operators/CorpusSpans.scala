package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkEntry.Op

/** Span-level corpus operators (SURVEY §2 H14+): sub-document repeated-span
  * removal and n-gram statistics — the "dedup below the document" family
  * (exact-substring dedup à la Lee et al. 2022, at fixed-span granularity
  * that keeps the computation a hash shuffle instead of a suffix array).
  */
object CorpusSpans {

  /** H14 — repeated-span removal: split every document into consecutive
    * `SpanWords`-word spans, keep only the globally FIRST occurrence of each
    * distinct span text (ordered by doc_id, then position), and reassemble
    * the surviving spans in document order. Duplicated boilerplate that
    * recurs across documents — the memorization hazard exact-document dedup
    * cannot see — is removed everywhere but its first site.
    *
    * Shape: one explode (bounded ×(words/span) blowup), one shuffle keyed on
    * the span text for the keep-first MIN aggregate, one shuffle back on
    * doc_id for reassembly — linear at any corpus size, where the reference
    * suffix-array formulation is superlinear and single-machine.
    * First-occurrence is the lexicographic MIN of (doc_id, position) structs
    * — a hash aggregate with map-side partial combine, chosen over the
    * equivalent ROW_NUMBER()=1 window because a hyper-frequent boilerplate
    * span (the EXPECTED skew shape of crawl corpora) would force the window
    * to sort one giant partition, while the min-struct form reduces it
    * map-side to one row per partition before the shuffle.
    */
  val SpanWords = 8

  def spanDedup(s: SparkSession, d: String): DataFrame = {
    val spans = Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (size(ws) - 1) DIV $SpanWords), " +
            s"k -> concat_ws(' ', slice(ws, k * $SpanWords + 1, $SpanWords)))"))
          .as(Seq("blk", "span")))
    spans
      .groupBy(col("span"))
      .agg(min(struct(col("doc_id"), col("blk"))).as("first"))
      .select(col("first.doc_id").as("doc_id"), col("first.blk").as("blk"), col("span"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans_kept"),
        concat_ws(" ", expr("transform(array_sort(collect_list(struct(blk, span))), x -> x.span)"))
          .as("text_dedup"))
  }

  val spanDedupSql: String = s"""
    WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    b AS (SELECT doc_id, ws,
            unnest(range(((len(ws) - 1) // $SpanWords) + 1)) AS blk
          FROM w),
    sp AS (SELECT doc_id, blk,
             array_to_string(ws[blk * $SpanWords + 1 : blk * $SpanWords + $SpanWords], ' ') AS span
           FROM b),
    r AS (SELECT doc_id, blk, span,
            ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, blk) AS rn
          FROM sp)
    SELECT doc_id, COUNT(*) AS n_spans_kept,
      string_agg(span, ' ' ORDER BY blk) AS text_dedup
    FROM r WHERE rn = 1 GROUP BY 1 ORDER BY 1"""

  /** H14b — CONTENT-ANCHORED span dedup (round-10 verdict item 4): H14's
    * disjoint [[SpanWords]]-word blocks miss a duplicated passage whose
    * offset differs between documents by anything not ≡ 0 mod
    * [[SpanWords]] (the blocks slice the copy differently in each doc, so
    * no block TEXT ever matches). Fixed-stride overlap only shrinks the
    * blind spot; the real fix is the minimizer/content-defined-chunking
    * device: anchor spans at positions the WORDS THEMSELVES select —
    * position i anchors iff md5(wordᵢ) ends in one of 4 hex nibbles
    * (expected stride 4, plus a forced doc-start anchor) — so two copies of
    * a passage choose the SAME anchors wherever each copy sits, and the
    * anchored 8-word span texts match exactly. md5 is the one hash both
    * engines already share bit-for-bit (the E1 fingerprint discipline).
    *
    * Output is the per-document duplication audit (doc_id, n_words,
    * n_spans, n_dup_spans, dup_words): dup spans are occurrences after the
    * global (doc_id, i)-min first occurrence of their text, and dup_words
    * counts distinct word positions covered by ≥1 dup span — the
    * ExactSubstr-style "how much of this doc is copied" signal. Shape: one
    * bounded explode (~n/4 spans), one skew-safe min-struct agg on span
    * text, one linear hash join back, one ≤8× positional explode for
    * coverage — linear at any corpus size, no windows over corpus-sized
    * streams.
    */
  private val AnchorNibbles = Seq("0", "4", "8", "c")

  def spanDedupAnchor(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n", size(col("ws")))
    val anchors = docs
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0), col("n") - 1)).as("i"))
      .filter(col("i") === 0 ||
        substring(md5(element_at(col("ws"), col("i") + 1)), 32, 1)
          .isin(AnchorNibbles: _*))
    val spans = anchors.select(col("doc_id"), col("i"), col("n"),
      concat_ws(" ", slice(col("ws"), col("i") + 1, lit(SpanWords))).as("span"))
    // the anchored-span explode feeds the first-occurrence aggregate AND
    // the marking join AND (via marked) two downstream consumers: persist
    // it once (r17, guide §2.4) — the min-struct aggregate keeps its
    // map-side combine, but the explode no longer recomputes per branch
    val spansP = graft.CacheScope.scopedPersist(spans)
    val firsts = spansP
      .groupBy(col("span"))
      .agg(min(struct(col("doc_id"), col("i"))).as("first"))
    val marked = graft.CacheScope.scopedPersist(spansP.join(firsts, "span")
      .withColumn("is_dup",
        struct(col("doc_id"), col("i")) =!= col("first")))
    val perDoc = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_spans"))
    val cov = marked.filter(col("is_dup"))
      .select(col("doc_id"),
        explode(sequence(col("i"), least(col("i") + SpanWords, col("n")) - 1)).as("j"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_words"))
    val out = docs.select(col("doc_id"), col("n").cast("long").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"))
    graft.CacheScope.releaseAfterUse(out, spansP, marked)
  }

  val spanDedupAnchorSql: String = s"""
    WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws,
                 len(str_split(text, ' ')) AS n FROM documents),
    pos AS (SELECT doc_id, ws, n, unnest(range(n)) AS i FROM w),
    a AS (SELECT doc_id, ws, n, i FROM pos
          WHERE i = 0 OR substring(md5(ws[CAST(i + 1 AS INT)]), 32, 1)
            IN (${AnchorNibbles.map(x => s"'$x'").mkString(", ")})),
    sp AS (SELECT doc_id, i, n,
             array_to_string(ws[CAST(i + 1 AS INT) : CAST(i + $SpanWords AS INT)], ' ') AS span
           FROM a),
    r AS (SELECT doc_id, i, n, span,
            ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, i) AS rn
          FROM sp),
    perdoc AS (SELECT doc_id, COUNT(*) AS n_spans,
                 CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
               FROM r GROUP BY 1),
    covpos AS (SELECT DISTINCT doc_id, j FROM (
                 SELECT doc_id, unnest(range(i, least(i + $SpanWords, n))) AS j
                 FROM r WHERE rn > 1)),
    cov AS (SELECT doc_id, COUNT(*) AS dup_words FROM covpos GROUP BY 1)
    SELECT w.doc_id, CAST(w.n AS BIGINT) AS n_words,
      COALESCE(perdoc.n_spans, 0) AS n_spans,
      COALESCE(perdoc.n_dup_spans, 0) AS n_dup_spans,
      COALESCE(cov.dup_words, 0) AS dup_words
    FROM w LEFT JOIN perdoc USING (doc_id) LEFT JOIN cov USING (doc_id)
    ORDER BY 1"""

  /** H15 — corpus n-gram statistics: the top `TopNgrams` bigrams by corpus
    * frequency — the language-model-side summary behind contamination
    * screens, tokenizer audits, and domain drift checks. The explode is a
    * bounded ×(words−1) blowup feeding a map-side-combined hash aggregate
    * (distinct-bigram cardinality, not corpus size, crosses the shuffle);
    * the global top-k is TakeOrdered, never a full sort. (count DESC, text)
    * ordering makes the cut deterministic under ties.
    */
  val TopNgrams = 50

  def ngramCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      // single-token docs: sequence(1, 0) counts DOWN in Spark and
      // element_at(ws, 0) throws — guard to an empty gram list, matching
      // the oracle's range(len-1)
      .select(explode(expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1), " +
          "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1))) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(TopNgrams)

  val ngramCountsSql: String = s"""
    WITH w AS (SELECT str_split(text, ' ') AS ws FROM documents),
    g AS (SELECT ws[x + 1] || ' ' || ws[x + 2] AS bigram
          FROM w, LATERAL (SELECT unnest(range(len(ws) - 1)) AS x))
    SELECT bigram, COUNT(*) AS n FROM g
    GROUP BY 1 ORDER BY n DESC, bigram LIMIT $TopNgrams"""

  /** H49 — n-gram NOVELTY per document (round-13; the diversity /
    * memorization-risk signal): the fraction of a document's DISTINCT
    * 5-grams that appear NOWHERE else in the corpus (df = 1). A doc with
    * near-zero novelty is assembled from corpus-common phrasing
    * (boilerplate/template risk); near-one is unique content — the
    * per-document diversity ranking data-mixing work thresholds on, and
    * the denominator side of every "how much would the model memorize"
    * estimate. One inverted pass: per-doc distinct 5-grams → gram-keyed df
    * agg (vocabulary-sized shuffle, never corpus-quadratic) → join back
    * per doc. Fixed-point bps; short docs (< 5 words) report zero grams.
    */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val dg = Tables.documents(s, d)
      .select(col("doc_id"), explode(graft.plans.ShingleArray.shingles(
        col("text"), CorpusClean.DecontaminationGram)).as("g"))
    val df5 = dg.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val per = dg.join(df5, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("(10000 * coalesce(n_novel, 0L)) DIV greatest(coalesce(n_grams, 0L), 1L)")
          .as("novel_bps"))
  }

  val ngramNoveltySql: String = s"""
    WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    dg AS (
      SELECT doc_id, unnest(list_distinct(
        [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
         for i in range(1, len(ws) - 3)])) AS g
      FROM w WHERE len(ws) >= 5),
    df5 AS (SELECT g, COUNT(*) AS df FROM dg GROUP BY 1),
    per AS (
      SELECT dg.doc_id, COUNT(*) AS n_grams,
        CAST(SUM(CASE WHEN df5.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM dg JOIN df5 USING (g) GROUP BY 1)
    SELECT d.doc_id,
      CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(COALESCE(per.n_novel, 0) AS BIGINT) AS n_novel,
      CAST((10000 * COALESCE(per.n_novel, 0))
        // GREATEST(COALESCE(per.n_grams, 0), 1) AS BIGINT) AS novel_bps
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    ORDER BY d.doc_id"""

  /** H16 — contamination SCORING (the graded companion to H2's binary
    * decontamination gate): per training document, the fraction of its
    * distinct 5-grams that appear in the eval set. Pipelines threshold this
    * (keep < 10% overlap, drop ≥) instead of dropping on a single shared
    * gram; the score is also the audit artifact reviewers ask for. Same
    * shape as H2: eval grams broadcast (eval sets are small by definition),
    * per-doc hit counts from one hash aggregate, ratio on exact integer
    * counts. Docs under 5 words carry no grams and are excluded, as in H2.
    */
  def contaminationScore(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.plans.ShingleArray.shingles(col("text"),
          CorpusClean.DecontaminationGram).as("g5"))
      .filter(size(col("g5")) > 0)
    val evalGrams = sh.filter(col("doc_id") < CorpusClean.EvalDocs)
      .select(explode(col("g5")).as("g")).distinct()
    val hits = sh.filter(col("doc_id") >= CorpusClean.EvalDocs)
      .select(col("doc_id"), explode(col("g5")).as("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hit"))
    sh.filter(col("doc_id") >= CorpusClean.EvalDocs)
      .select(col("doc_id"), size(col("g5")).cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("hit"), lit(0L)) / col("n_grams"), 6).as("contamination"))
  }

  val contaminationScoreSql: String = s"""
    WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
    sh AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
                       for i in range(1, len(ws) - 3)]) AS s
      FROM w WHERE len(ws) >= 5),
    ev AS (SELECT DISTINCT unnest(s) AS g
           FROM sh WHERE doc_id < ${CorpusClean.EvalDocs}),
    x AS (SELECT doc_id, unnest(s) AS g FROM sh
          WHERE doc_id >= ${CorpusClean.EvalDocs}),
    h AS (SELECT doc_id, COUNT(*) AS n_hit FROM x JOIN ev USING (g) GROUP BY 1)
    SELECT b.doc_id, len(b.s) AS n_grams, COALESCE(h.n_hit, 0) AS n_hit,
      ROUND(COALESCE(h.n_hit, 0) / len(b.s), 6) AS contamination
    FROM sh b LEFT JOIN h USING (doc_id)
    WHERE b.doc_id >= ${CorpusClean.EvalDocs}
    ORDER BY b.doc_id"""

  /** H17 — train/val/test leakage audit: near-duplicate pairs (E2's
    * verified Jaccard ≥ 0.8 set) whose members land in DIFFERENT splits of
    * H6's deterministic partition — the contamination that inflates eval
    * numbers while exact-match checks stay green. Pure composition: the
    * pair derivation and the split assignment are the already-gated
    * operators; the audit is two key joins over the pair list (near-dup
    * pairs are rare by definition, so the join input is tiny at any corpus
    * size). Empty output is the healthy state a pipeline asserts on.
    */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    // consumes the SAME stored pair artifact E8 clusters from
    // ([[graft.dedup.Dedup.pairsParquet]]): the audit is two key joins over
    // a parquet scan, not a re-run of the PPJoin pipeline — at 100 TB the
    // pair derivation is the ingest pipeline's job, audits just read it
    val pairs = graft.dedup.Dedup.pairsParquet(s, d)
    val splits = CorpusClean.trainSplit(s, d).select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"), col("jac"))
  }

  /** Pure COMPOSITION of the two gated operators' own oracle fragments —
    * E2's pair CTEs ([[graft.dedup.Dedup.jaccardPairsCtes]]) and H6's split
    * CTEs ([[CorpusClean.splitCtes]]). Nothing re-inlined: a threshold or
    * hash change in either source oracle flows into this twin by
    * construction.
    */
  val splitLeakageSql: String = s"""
    WITH ${graft.dedup.Dedup.jaccardPairsCtes},
    ${CorpusClean.splitCtes}
    SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b, jac
    FROM jp
    JOIN spl sa ON sa.doc_id = doc_a
    JOIN spl sb ON sb.doc_id = doc_b
    WHERE sa.split <> sb.split
    ORDER BY doc_a, doc_b"""

  /** H19 — per-source dedup AUDIT: the health report a data team reads
    * before deciding dedup thresholds. Per source: document count, exact-
    * duplicate documents (normalized-fingerprint groups, global keep-first
    * by doc_id — the E1 rule, so the reported drop equals what E1 would
    * remove), and near-duplicate documents (distinct members of E2's
    * verified pair set — read from the STORED pair artifact
    * ([[graft.dedup.Dedup.pairsParquet]]), not re-derived). Two node-sized
    * joins + one k-row aggregate on top of existing artifacts.
    */
  def dedupReport(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val pairs = graft.dedup.Dedup.pairsParquet(s, d)
    val nearDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("is_near", lit(1L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), fingerprint(col("text")).as("fp"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))))
      .join(nearDocs, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_exact_dups"),
        sum(coalesce(col("is_near"), lit(0L))).as("n_near_dup_docs"))
  }

  val dedupReportSql: String = s"""
    WITH ${graft.dedup.Dedup.jaccardPairsCtes},
    near AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM jp UNION ALL SELECT doc_b FROM jp)),
    fp AS (
      SELECT doc_id, source,
        ROW_NUMBER() OVER (
          PARTITION BY ${graft.functions.TextFunctions.fingerprintSql("text")}
          ORDER BY doc_id) AS rn
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
      CAST(SUM(CASE WHEN near.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_near_dup_docs
    FROM fp LEFT JOIN near ON fp.doc_id = near.doc_id
    GROUP BY source ORDER BY source"""

  /** H20 — per-source PII audit: how many documents carry each PII class
    * and how many spans a scrub would mask — the report a data team reads
    * before enabling D10's masking (and the after-the-fact evidence that a
    * scrubbed corpus is actually clean: re-run on masked text, every count
    * must be zero). Pure per-row regexp counts folded into one k-row
    * aggregate; the corpus itself carries no PII by construction, so the
    * same deterministic planted column the D10 gate uses feeds the counts —
    * the oracle replays plant + count end to end.
    */
  def piiReport(s: SparkSession, d: String): DataFrame = {
    import TextAnalysis._
    def docsAndSpans(re: String, cls: String) = Seq(
      sum(when(regexp_count(col("raw"), lit(re)) > 0, 1L)
        .otherwise(0L)).as(s"docs_$cls"),
      sum(regexp_count(col("raw"), lit(re)).cast("long")).as(s"spans_$cls"))
    val aggs = count(lit(1)).as("n_docs") +:
      (docsAndSpans(PiiEmailRe, "email") ++ docsAndSpans(PiiPhoneRe, "phone") ++
        docsAndSpans(PiiIpRe, "ip") ++ docsAndSpans(PiiUuidRe, "uuid"))
    Tables.documents(s, d)
      .select(col("source"), plantPiiCol.as("raw"))
      .groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
  }

  val piiReportSql: String = {
    import TextAnalysis._
    def docsAndSpans(re: String, cls: String) =
      s"""CAST(SUM(CASE WHEN LENGTH(regexp_extract_all(raw, '$re')) > 0
        THEN 1 ELSE 0 END) AS BIGINT) AS docs_$cls,
      CAST(SUM(LENGTH(regexp_extract_all(raw, '$re'))) AS BIGINT) AS spans_$cls"""
    s"""
    WITH raw AS (
      SELECT source, $plantPiiSql AS raw
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      ${docsAndSpans(PiiEmailRe, "email")},
      ${docsAndSpans(PiiPhoneRe, "phone")},
      ${docsAndSpans(PiiIpRe, "ip")},
      ${docsAndSpans(PiiUuidRe, "uuid")}
    FROM raw GROUP BY source ORDER BY source"""
  }

  /** H22 — bigram-LM quality scoring (the CCNet/Wenzek-et-al perplexity
    * filter, the quality signal D2's ratio features cannot see): train an
    * add-one-smoothed bigram language model over the corpus' own top-
    * [[LmVocab]] vocabulary (everything rarer folds to a single `<unk>`
    * class) and score every document by its average surprisal — bits per
    * bigram under the model. Fluent, typical text scores low; gibberish,
    * boilerplate soup, and wrong-language text score high, and pipelines
    * threshold on exactly this number.
    *
    * Determinism scheme (what makes a float LM hash-gateable): every
    * probability is an exact rational (cb+1)/(c1+V) — both engines divide
    * identical integers into the identical double — and each bigram TYPE's
    * log2 is snapped ONCE to fixed-point ([[LmScale]] = 2^20) on the
    * ≤(V+1)² model rows. Per-document scores are then SUMS OF LONGS —
    * exact in any accumulation order, so partial aggregation cannot
    * perturb the hash, and the DuckDB twin replays bit-identically (the
    * only cross-engine exposure is a log2 ulp landing within ~1e-9 of a
    * fixed-point rounding boundary across ≤4096 model values). A naive
    * float `sum(log(p))` would be order-dependent: irreproducible across
    * runs AND unverifiable — the IvfScale argument, applied to language
    * models.
    *
    * Shape at 100 TB: vocabulary = one word-count aggregate (map-side
    * combined, distinct-word cardinality crosses the shuffle) cut by
    * TakeOrdered to V rows on the driver (the bounded k-row collect the
    * IVF centroids also do); model = one bigram aggregate bounded by
    * (V+1)² ≤ 4096 rows, broadcast; scoring = one scan joining each doc's
    * bigram stream against the broadcast model into a per-doc partial
    * agg. Three scans total, every shuffle key-bounded; at real scale the
    * vocab/model passes run over a deterministic hash-residue sample (the
    * H6 discipline) while scoring stays full-corpus.
    */
  val LmVocab = 63                   // top-V tokens; rarer folds to <unk>
  val LmScale: Long = 1L << 20       // fixed-point grid for log2(p)
  private val LmUnk = "\u0001"  // chr(1): impossible in the printable corpus

  private def lmBigrams(docs: DataFrame, vocab: Array[String]): DataFrame = {
    val mapTok = (c: Column) =>
      when(c.isin(vocab.toIndexedSeq: _*), c).otherwise(lit(LmUnk))
    docs
      .select(col("doc_id"),
        transform(split(col("text"), " "), mapTok).as("mws"))
      .select(col("doc_id"),
        explode(when(size(col("mws")) >= 2, expr(
          "transform(sequence(1, size(mws) - 1), " +
            "i -> named_struct('w1', element_at(mws, i), " +
            "'w2', element_at(mws, i + 1)))"))
          .otherwise(expr(
            "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)")))
          .as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
  }

  def lmScoreDf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // pass 1 — vocabulary: word counts -> TakeOrdered top-V. The collect is
    // V = 63 strings (bounded by construction, the IVF-centroid precedent);
    // embedding them as an InSet literal keeps scoring a single codegen'd
    // scan instead of two more joins against a recomputed vocab frame.
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(LmVocab)
      .select(col("w")).as[String].collect()
    val bg = lmBigrams(docs, vocab)
    // pass 2 — the model: add-one-smoothed conditionals over V+1 classes,
    // log2 snapped to fixed-point once per TYPE (<= (V+1)^2 rows)
    val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val model = cb
      .withColumn("c1", sum(col("cb")).over(Window.partitionBy(col("w1"))))
      .withColumn("ilog",
        round(log2((col("cb") + lit(1.0)) / (col("c1") + lit(LmVocab + 1.0)))
          * lit(LmScale.toDouble)).cast("long"))
      .select(col("w1"), col("w2"), col("ilog"))
    // pass 3 — scoring: every corpus bigram was seen in training, so the
    // broadcast model join is total; docs under 2 tokens carry no bigrams
    // and drop out (as in H15)
    lmBigrams(docs, vocab)
      .join(broadcast(model), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ilog")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("s").cast("double")
          / (col("n_bigrams") * lit(LmScale.toDouble)), 6)
          .as("bits_per_bigram"))
  }

  def lmScore(s: SparkSession, d: String): DataFrame =
    lmScoreDf(s, Tables.documents(s, d))

  val lmScoreSql: String = s"""
    WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
    voc AS (
      SELECT w FROM (SELECT unnest(ws) AS w FROM w) t
      GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT $LmVocab),
    tok AS (
      SELECT doc_id, x AS pos, ws[x + 1] AS w
      FROM w, LATERAL (SELECT unnest(range(len(ws))) AS x)),
    mt AS (
      SELECT t.doc_id, t.pos,
        CASE WHEN v.w IS NOT NULL THEN t.w ELSE chr(1) END AS mw
      FROM tok t LEFT JOIN voc v ON v.w = t.w),
    bg AS (
      SELECT a.doc_id, a.mw AS w1, b.mw AS w2
      FROM mt a JOIN mt b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
    cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(cb) AS c1 FROM cb GROUP BY 1),
    md AS (
      SELECT cb.w1, cb.w2,
        CAST(round(log2((cb + 1.0) / (c1 + ${LmVocab + 1}.0))
          * ${LmScale}.0) AS BIGINT) AS ilog
      FROM cb JOIN c1 USING (w1))
    SELECT bg.doc_id, COUNT(*) AS n_bigrams,
      ROUND(-CAST(SUM(ilog) AS DOUBLE) / (COUNT(*) * ${LmScale}.0), 6)
        AS bits_per_bigram
    FROM bg JOIN md ON md.w1 = bg.w1 AND md.w2 = bg.w2
    GROUP BY bg.doc_id ORDER BY bg.doc_id"""

  /** H23 — BLOOM-FILTER decontamination: H2/H16 against a blocklist too
    * large to broadcast as exact grams. The eval set's 5-grams are folded
    * ONCE into a fixed [[BloomM]]-bit bitmap ([[BloomK]] salted splitmix64
    * positions per gram — 32 KB total, whatever the blocklist size); every
    * training gram then tests membership with 4 bit probes INSIDE the
    * scan's codegen — no join, no shuffle against the blocklist. This is
    * how decontamination runs when the blocklist is every benchmark +
    * takedown list a team holds (far past broadcast-of-strings scale):
    * the sketch is constant-size and the scan cost is unchanged.
    *
    * False positives are the bloom trade: at ~9% fill, FP ≈ fill^k ≈ 7e-5
    * — and they are DETERMINISTIC here (the hash family is the replayable
    * [[graft.plans.MixHash]] polynomial+splitmix64), so the DuckDB oracle
    * reproduces every probe bit-exactly: membership in the oracle is "all
    * [[BloomK]] positions ∈ the eval position set", which is precisely
    * what the bitmap encodes. Per-doc report mirrors H16: distinct-gram
    * count, bloom-hit count, clean flag (0 hits).
    */
  val BloomM: Int = 1 << 18
  val BloomK: Int = 4
  private def bloomSalt(j: Int): Long = graft.plans.MixHash.slotB(j)

  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MixHash.{polyHashCol, splitmix64Col}
    val sh = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.plans.ShingleArray.shingles(col("text"),
          CorpusClean.DecontaminationGram).as("g5"))
      .filter(size(col("g5")) > 0)
    def positions(h: Column): Seq[Column] = (0 until BloomK).map(j =>
      splitmix64Col(h.bitwiseXOR(lit(bloomSalt(j))))
        .bitwiseAND(lit((BloomM - 1).toLong)))
    // build: the k positions of every DISTINCT eval gram -> 32 KB bitmap.
    // The collect is bounded by the eval set (the same boundedness H2's
    // exact-gram broadcast already relies on); at real blocklist scale
    // this build is the offline step that ships only the bitmap.
    val evalPos = sh.filter(col("doc_id") < CorpusClean.EvalDocs)
      .select(explode(col("g5")).as("g")).distinct()
      .select(explode(array(positions(polyHashCol(col("g"))): _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val bitmap = new Array[Long](BloomM / 64)
    evalPos.foreach(p => bitmap(p.toInt >> 6) |= (1L << (p & 63).toInt))
    val bmCol = array(bitmap.toIndexedSeq.map(lit): _*)
    // probe: 4 codegen bit tests per training gram, zero joins
    val tr = sh.filter(col("doc_id") >= CorpusClean.EvalDocs)
      .select(col("doc_id"), explode(col("g5")).as("g"))
      .withColumn("h", polyHashCol(col("g")))
    val withPos = positions(col("h")).zipWithIndex
      .foldLeft(tr) { case (df, (c, j)) => df.withColumn(s"p$j", c) }
      .withColumn("bm", bmCol)
    val hit = (0 until BloomK).map(j => expr(
      s"(shiftright(element_at(bm, CAST(shiftright(p$j, 6) AS INT) + 1), " +
        s"CAST(p$j % 64 AS INT)) & 1) = 1")).reduce(_ && _)
    withPos
      .withColumn("hit", hit)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("hit").cast("long")).as("n_hits"))
      .withColumn("clean", (col("n_hits") === 0).cast("int"))
  }

  val bloomDecontaminateSql: String = {
    import graft.plans.MixHash._
    def uSalt(j: Int): String =
      java.lang.Long.toUnsignedString(bloomSalt(j)) + "::HUGEINT"
    val saltList = (0 until BloomK).map(j => s"xor(h, ${uSalt(j)})")
      .mkString("[", ", ", "]")
    def listStep(src: String, dst: String, step: String => String): String =
      s"$dst AS (SELECT * REPLACE (list_transform(zs, z -> ${step("z")}) AS zs) FROM $src)"
    s"""
    WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
    sh AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
                       for i in range(1, len(ws) - 3)]) AS s
      FROM w WHERE len(ws) >= 5),
    evg AS (SELECT DISTINCT unnest(s) AS g
            FROM sh WHERE doc_id < ${CorpusClean.EvalDocs}),
    ${sqlMixedCtes("evg", "g", Seq("g"), "eh")},
    el0 AS (SELECT g, $saltList AS zs FROM eh),
    ${listStep("el0", "el1", sqlMixStep1)},
    ${listStep("el1", "el2", sqlMixStep2)},
    ${listStep("el2", "el3", sqlMixStep3)},
    ${listStep("el3", "el4", sqlMixStep4)},
    ep AS (SELECT DISTINCT CAST(unnest(zs) % ${BloomM}::HUGEINT AS BIGINT) AS p
           FROM el4),
    trg AS (SELECT doc_id, unnest(s) AS g
            FROM sh WHERE doc_id >= ${CorpusClean.EvalDocs}),
    ${sqlMixedCtes("trg", "g", Seq("doc_id", "g"), "th")},
    tl0 AS (SELECT doc_id, g, $saltList AS zs FROM th),
    ${listStep("tl0", "tl1", sqlMixStep1)},
    ${listStep("tl1", "tl2", sqlMixStep2)},
    ${listStep("tl2", "tl3", sqlMixStep3)},
    ${listStep("tl3", "tl4", sqlMixStep4)},
    tpu AS (SELECT doc_id, g,
              CAST(unnest(zs) % ${BloomM}::HUGEINT AS BIGINT) AS p
            FROM tl4),
    hitg AS (
      SELECT doc_id, g FROM tpu JOIN ep USING (p)
      GROUP BY doc_id, g HAVING COUNT(*) = $BloomK),
    hd AS (SELECT doc_id, COUNT(*) AS n FROM hitg GROUP BY 1)
    SELECT b.doc_id, len(b.s) AS n_grams,
      COALESCE(hd.n, 0) AS n_hits,
      CAST(COALESCE(hd.n, 0) = 0 AS INTEGER) AS clean
    FROM sh b LEFT JOIN hd USING (doc_id)
    WHERE b.doc_id >= ${CorpusClean.EvalDocs}
    ORDER BY b.doc_id"""
  }

  /** H25 — Gopher-style rule-based quality gate report (Rae et al. 2021
    * §A1.1 adapted to this corpus' signal ranges): per SOURCE, how many
    * documents pass each structural quality rule and how many pass all of
    * them — the first screen every web-scale pretraining pipeline runs,
    * and the per-source report its curators actually read.
    *
    * Every rule is an INTEGER comparison (counts cross-multiplied instead
    * of float ratios), so the gate never sits on a float rounding boundary
    * and both engines agree bit-for-bit:
    *   R1 length      — n_words >= 30
    *   R2 mean length — 4 <= mean word len <= 5   (4n <= chars <= 5n)
    *   R3 stopwords   — stopword fraction >= 4%   (25*n_stop >= n_words)
    *   R4 repetition  — duplicate-word fraction <= 60%  (5*(n-d) <= 3n)
    * Shape: one fused scan computing all signals per row, one 20-row
    * partial agg keyed on source — corpus-sized map, source-sized shuffle;
    * the report stays |sources| rows at any corpus size.
    */
  val GopherStops = Seq("the", "a", "of", "and", "to")

  def gopherRules(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.words
    val stopsArr = array(GopherStops.map(lit): _*)
    val sig = Tables.documents(s, d)
      .select(col("source"), words(col("text")).as("w"),
        length(call_function("replace", col("text"), lit(" "), lit(""))).as("chars"))
      .select(col("source"), col("chars"),
        size(col("w")).as("n"),
        size(array_distinct(col("w"))).as("nd"),
        size(filter(col("w"), x => array_contains(stopsArr, x))).as("ns"))
    val r1 = col("n") >= 30
    val r2 = (lit(4) * col("n") <= col("chars")) && (col("chars") <= lit(5) * col("n"))
    val r3 = lit(25) * col("ns") >= col("n")
    val r4 = lit(5) * (col("n") - col("nd")) <= lit(3) * col("n")
    def cnt(c: Column) = sum(c.cast("long"))
    sig.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      cnt(r1).as("n_pass_len"),
      cnt(r2).as("n_pass_meanlen"),
      cnt(r3).as("n_pass_stop"),
      cnt(r4).as("n_pass_rep"),
      cnt(r1 && r2 && r3 && r4).as("n_pass_all"))
  }

  val gopherRulesSql: String = {
    val stops = GopherStops.map(x => s"'$x'").mkString(", ")
    s"""
    WITH sig AS (
      SELECT source,
        length(replace(text, ' ', '')) AS chars,
        len(list_filter(str_split(text, ' '), w -> w <> '')) AS n,
        len(list_distinct(list_filter(str_split(text, ' '), w -> w <> ''))) AS nd,
        len(list_filter(str_split(text, ' '), w -> w IN ($stops))) AS ns
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN n >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_len,
      CAST(SUM(CASE WHEN 4*n <= chars AND chars <= 5*n THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_meanlen,
      CAST(SUM(CASE WHEN 25*ns >= n THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_stop,
      CAST(SUM(CASE WHEN 5*(n - nd) <= 3*n THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_rep,
      CAST(SUM(CASE WHEN n >= 30 AND 4*n <= chars AND chars <= 5*n
               AND 25*ns >= n AND 5*(n - nd) <= 3*n THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
    FROM sig GROUP BY source ORDER BY source"""
  }

  /** H26 — per-domain crawl QUOTA: cap each domain at [[DomainQuota]] docs,
    * keep-first by doc_id — the FineWeb/C4 guard against a single site
    * flooding the mix (SEO farms, mirrors, auto-generated catalogs). Reuses
    * the D11 URL plant and extraction regex (first URL = the doc's host, ONE
    * shared definition — the report and D11's domain table cannot drift).
    * Shape: per-row regex extract fused into the scan, then a
    * domain-partitioned rank window (parallel across domains; the heavy-
    * domain skew a real crawl hits is exactly what the quota itself then
    * bounds downstream) and a domains-sized agg. `max_kept_doc` (the Q-th
    * smallest id) proves SELECTION happened, not just counting.
    */
  val DomainQuota = 2

  def domainQuota(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis.{plantUrlCol, UrlRe}
    Tables.documents(s, d)
      .select(col("doc_id"), regexp_extract(plantUrlCol, UrlRe, 1).as("domain"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("domain")).orderBy(col("doc_id"))))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= DomainQuota, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") > DomainQuota, 1L).otherwise(0L)).as("n_dropped"),
        max(when(col("rk") <= DomainQuota, col("doc_id"))).as("max_kept_doc"))
  }

  val domainQuotaSql: String = {
    import graft.operators.TextAnalysis.{plantUrlSql, UrlRe}
    s"""
    WITH u AS (
      SELECT doc_id, regexp_extract($plantUrlSql, '$UrlRe', 1) AS domain
      FROM documents),
    r AS (
      SELECT doc_id, domain,
        ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      FROM u)
    SELECT domain, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN rk <= $DomainQuota THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN rk > $DomainQuota THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      MAX(CASE WHEN rk <= $DomainQuota THEN doc_id END) AS max_kept_doc
    FROM r GROUP BY domain ORDER BY domain"""
  }

  /** H28 — per-source distribution DRIFT report: KL(source ‖ corpus) over
    * the word distribution, in bits/token — the domain-drift monitor a
    * corpus team watches across crawls ("source X's language moved away
    * from the mix"). Exactness is the H22 device: the log-ratio
    * log2(c_sw·T / (C_s·c_w)) snaps ONCE per (source, word) model row to a
    * 2^20 fixed-point long, so the per-source divergence is an INTEGER sum
    * (order-proof, hash-gateable; only cross-engine exposure is the
    * documented rounding-boundary ulp). Shape: one explode → one
    * (source, word) agg, then the global word/source/total marginals are
    * RE-AGGREGATED from that table (never a second corpus scan), joined
    * back (word-keyed join is vocab-sized — AQE broadcasts it at test SF,
    * hash join at web vocab; source marginals and the 1-row total
    * broadcast), and reduced to a \|sources\|-row report.
    */
  def driftReport(s: SparkSession, d: String): DataFrame = {
    val sw = graft.CacheScope.scopedPersist(
      Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("csw")))
    val g = sw.groupBy(col("w")).agg(sum(col("csw")).as("cw"))
    val st = sw.groupBy(col("source")).agg(sum(col("csw")).as("cs"))
    val t = sw.agg(sum(col("csw")).as("t"))
    val out = sw
      .join(g, "w")
      .join(broadcast(st), "source")
      .crossJoin(broadcast(t))
      .withColumn("ilog",
        round(log2((col("csw") * col("t")).cast("double") /
          (col("cs") * col("cw")).cast("double")) * lit(1048576.0)).cast("long"))
      .groupBy(col("source"))
      // rows are already unique per (source, w) — a plain count IS the
      // distinct term count, without countDistinct's two-phase aggregate
      .agg(first(col("cs")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("csw") * col("ilog")).as("klfix"))
      .withColumn("kl_bits",
        round(col("klfix").cast("double") / col("n_tokens") / lit(1048576.0), 6))
      .select(col("source"), col("n_tokens"), col("n_terms"), col("kl_bits"))
    graft.CacheScope.releaseAfterUse(out, sw)
  }

  val driftReportSql: String = """
    WITH sw AS (
      SELECT source, w, COUNT(*) AS csw FROM (
        SELECT source, unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS w
        FROM documents)
      GROUP BY 1, 2),
    g AS (SELECT w, CAST(SUM(csw) AS BIGINT) AS cw FROM sw GROUP BY 1),
    st AS (SELECT source, CAST(SUM(csw) AS BIGINT) AS cs FROM sw GROUP BY 1),
    t AS (SELECT CAST(SUM(csw) AS BIGINT) AS t FROM sw),
    k AS (
      SELECT sw.source, sw.w, sw.csw, st.cs,
        CAST(round(log2(CAST(sw.csw * t.t AS DOUBLE) /
          CAST(st.cs * g.cw AS DOUBLE)) * 1048576) AS BIGINT) AS ilog
      FROM sw JOIN g USING (w) JOIN st ON sw.source = st.source CROSS JOIN t)
    SELECT source, ANY_VALUE(cs) AS n_tokens, COUNT(DISTINCT w) AS n_terms,
      ROUND(CAST(SUM(csw * ilog) AS DOUBLE) / ANY_VALUE(cs) / 1048576.0, 6) AS kl_bits
    FROM k GROUP BY source ORDER BY source"""

  /** H28 — QUALITY-ENSEMBLE selection: one integer-weighted linear score
    * combining the pipeline's quality signals (alpha ratio, stopword
    * density, within-doc repetition, capped length — the public
    * DataComp/DCLM-style "combine weak heuristics into one ranking"
    * recipe), then keep the top quarter per source. Every feature is
    * fixed-point integer (×1000, floor division), so the composite score
    * and the selection are bit-exact across engines — no float ranking
    * anywhere. The per-source rank window partitions by source over
    * score-ranked docs (the H10 sampleQuota shape).
    *
    * Scale: features fuse into the scan (one pass); the only data-sized
    * shuffle is the per-source rank; the per-source size table is a
    * sources-row broadcast.
    */
  /** THE ensemble score, shared by H29's selection and H32's
    * quality-aware cluster dedup (one definition — the keep-best rule
    * cannot drift from the selection rule). Emits doc_id, source,
    * a_milli, stop_milli, rep_milli, score.
    */
  def qualityScored(docs: DataFrame): DataFrame =
    withQualityScore(docs).select(col("doc_id"), col("source"),
      col("nc"), col("na"), col("ns"), col("nw"), col("nd"),
      col("a_milli"), col("stop_milli"), col("rep_milli"),
      col("len_cap"), col("score"))

  /** Column-preserving form of [[qualityScored]]: appends the feature and
    * score columns to an arbitrary frame carrying `text` (the H13-v2
    * composite needs the score FUSED into its already-masked scan instead
    * of a second documents read). One definition of the score — this is
    * what [[qualityScored]] selects from. */
  def withQualityScore(docs: DataFrame): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val stops = Seq(" the ", " a ", " of ", " and ", " to ")
    val nStop = stops.map(sw => graft.functions.TextFunctions.occurrences(padded, sw))
      .reduce(_ + _).cast("long")
    val w = graft.functions.TextFunctions.words(col("text"))
    docs
      .withColumn("nc", length(col("text")).cast("long"))
      .withColumn("na",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
      .withColumn("ns", nStop)
      .withColumn("nw", size(w).cast("long"))
      .withColumn("nd", size(array_distinct(w)).cast("long"))
      .withColumn("a_milli", expr("(1000 * na) DIV greatest(nc, 1L)"))
      .withColumn("stop_milli", expr("(1000 * ns) DIV greatest(nw, 1L)"))
      .withColumn("rep_milli", expr("(1000 * (nw - nd)) DIV greatest(nw, 1L)"))
      .withColumn("len_cap", least(col("nc"), lit(2000L)))
      .withColumn("score", expr(
        "2 * a_milli + 3 * stop_milli - 4 * rep_milli + len_cap DIV 4"))
  }

  def qualityEnsemble(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = qualityScored(docs)
    val quota = docs.groupBy(col("source"))
      .agg(expr("count(1) DIV 4").as("keep_n"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("doc_id"))))
      .join(broadcast(quota), "source")
      .filter(col("rk") <= col("keep_n"))
      .select(col("doc_id"), col("source"), col("a_milli"), col("stop_milli"),
        col("rep_milli"), col("score"), col("rk"))
  }

  /** SQL CTE chain computing the shared ensemble score: emits `sc`
    * (doc_id, source, a_milli, stop_milli, rep_milli, score). Shared by
    * the H29 and H32 oracles exactly as [[qualityScored]] is shared by
    * the ops.
    */
  val qualityScoreCtes: String = {
    val occ = Seq(" the ", " a ", " of ", " and ", " to ")
      .map(sw => s"(length(p) - length(replace(p, '$sw', ''))) // ${sw.length}")
      .mkString(" + ")
    s"""f0 AS (
      SELECT doc_id, source, (' ' || text || ' ') AS p,
        CAST(length(text) AS BIGINT) AS nc,
        CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS na,
        CAST(len(list_filter(str_split(text, ' '), x -> x <> '')) AS BIGINT) AS nw,
        CAST(len(list_distinct(list_filter(str_split(text, ' '), x -> x <> ''))) AS BIGINT) AS nd
      FROM documents),
    f AS (
      SELECT doc_id, source, nc, na, nw, nd, CAST($occ AS BIGINT) AS ns FROM f0),
    m AS (
      SELECT doc_id, source,
        (1000 * na) // greatest(nc, 1) AS a_milli,
        (1000 * ns) // greatest(nw, 1) AS stop_milli,
        (1000 * (nw - nd)) // greatest(nw, 1) AS rep_milli,
        least(nc, 2000) AS len_cap
      FROM f),
    sc AS (
      SELECT doc_id, source, a_milli, stop_milli, rep_milli,
        2 * a_milli + 3 * stop_milli - 4 * rep_milli + len_cap // 4 AS score
      FROM m)"""
  }

  val qualityEnsembleSql: String = s"""
    WITH $qualityScoreCtes,
    q AS (SELECT source, COUNT(*) // 4 AS keep_n FROM documents GROUP BY 1),
    rk AS (
      SELECT sc.*, ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY score DESC, doc_id) AS rk
      FROM sc)
    SELECT rk.doc_id, rk.source,
      CAST(a_milli AS BIGINT) AS a_milli, CAST(stop_milli AS BIGINT) AS stop_milli,
      CAST(rep_milli AS BIGINT) AS rep_milli, CAST(score AS BIGINT) AS score,
      CAST(rk AS INTEGER) AS rk
    FROM rk JOIN q USING (source) WHERE rk <= keep_n
    ORDER BY source, rk"""

  /** H29 — tokenizer-FERTILITY report: BPE tokens per whitespace word and
    * chars per BPE token, per (source × predicted language). Fertility is
    * the standard tokenizer-fit diagnostic (a language the vocab serves
    * poorly shows fertility ≫ 1), and it keys every multilingual
    * token-budget decision. Composes the H18b multi-round BPE counter with
    * the D3 langid in ONE fused scan → |sources×langs| partial agg;
    * fixed-point integer ratios, so the gate is hash-exact.
    */
  def fertilityReport(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, d)
      .select(col("source"), langId(col("text")).as("pred_lang"),
        wsTokens(col("text")).cast("long").as("nw"),
        bpeTokensK(col("text")).cast("long").as("nb"),
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

  val fertilityReportSql: String = {
    import graft.functions.TextFunctions._
    s"""
    WITH f AS (
      SELECT source, ${langIdSql("text")} AS pred_lang,
        CAST(${wsTokensSql("text")} AS BIGINT) AS nw,
        CAST(${bpeTokensKSql("text")} AS BIGINT) AS nb,
        CAST(length(text) AS BIGINT) AS nc
      FROM documents),
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

  /** H32 — QUALITY-AWARE near-dup dedup (keep-BEST, not keep-first): when
    * a near-dup cluster holds several variants of a document, naive
    * keep-smallest-id dedup (E1/E8) keeps an arbitrary one; a training
    * pipeline wants the HIGHEST-QUALITY variant (the FineWeb/RefinedWeb
    * refinement). Composes the E8 connected-component labels with the H29
    * ensemble score — both as their single shared definitions, so this
    * cannot drift from either — and keeps the per-cluster argmax by
    * (score desc, doc_id). The rank window partitions per cluster
    * (near-dup clusters are small by construction — the star cap bounds
    * them); output is one row per kept representative with its cluster
    * size, so the gate hashes the full keep decision.
    */
  def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val labels = graft.dedup.Dedup.clusterPairs(s, d)
      .select(col("doc_id"), col("cluster_id"))
    val scored = qualityScored(Tables.documents(s, d))
      .select(col("doc_id"), col("score"))
    val w = Window.partitionBy(col("cluster_id"))
    labels.join(scored, "doc_id")
      .withColumn("rk", row_number().over(
        w.orderBy(col("score").desc, col("doc_id"))))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cluster_id"), col("score"),
        col("cluster_size"))
  }

  val dedupKeepBestSql: String = s"""
    WITH RECURSIVE
    w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
    sh AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       for i in range(1, len(ws) - 1)]) AS s
      FROM w WHERE len(ws) >= 3),
    e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
      WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.8),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
    lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    $qualityScoreCtes,
    j AS (
      SELECT l.doc_id, l.cluster_id, sc.score
      FROM lab l JOIN sc ON sc.doc_id = l.doc_id),
    r AS (
      SELECT doc_id, cluster_id, score,
        ROW_NUMBER() OVER (PARTITION BY cluster_id
          ORDER BY score DESC, doc_id) AS rk,
        COUNT(*) OVER (PARTITION BY cluster_id) AS cs
      FROM j)
    SELECT doc_id, cluster_id, CAST(score AS BIGINT) AS score,
      CAST(cs AS BIGINT) AS cluster_size
    FROM r WHERE rk = 1 ORDER BY doc_id"""

  val ops: Map[String, Op] = Map(
    "corpus_quality_ensemble" -> Op(qualityEnsemble _, qualityEnsembleSql),
    "corpus_dedup_keep_best" -> Op(dedupKeepBest _, dedupKeepBestSql),
    "corpus_fertility" -> Op(fertilityReport _, fertilityReportSql),
    "corpus_drift_report" -> Op(driftReport _, driftReportSql),
    "corpus_domain_quota" -> Op(domainQuota _, domainQuotaSql),
    "corpus_gopher_rules" -> Op(gopherRules _, gopherRulesSql),
    "corpus_bloom_decontaminate" -> Op(bloomDecontaminate _, bloomDecontaminateSql),
    "corpus_lm_score" -> Op(lmScore _, lmScoreSql),
    "corpus_span_dedup" -> Op(spanDedup _, spanDedupSql),
    "corpus_span_dedup_anchor" -> Op(spanDedupAnchor _, spanDedupAnchorSql),
    "corpus_ngram_counts" -> Op(ngramCounts _, ngramCountsSql),
    "corpus_ngram_novelty" -> Op(ngramNovelty _, ngramNoveltySql),
    "corpus_contamination_score" -> Op(contaminationScore _, contaminationScoreSql),
    "corpus_split_leakage" -> Op(splitLeakage _, splitLeakageSql),
    "corpus_dedup_report" -> Op(dedupReport _, dedupReportSql),
    "corpus_pii_report" -> Op(piiReport _, piiReportSql)
  )
}
