package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.SparkEntry.Op

/** D-block (SURVEY §2): text analysis over `documents`. All scoring is
  * composed from built-in codegen'd functions (see TextFunctions), with
  * bit-identical DuckDB twins for the oracle.
  */
object TextAnalysis {

  /** D1 — token counting: whitespace tokens + BPE-ish subword estimate. */
  def textTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        wsTokens(col("text")).as("n_ws_tokens"),
        bpeTokens(col("text")).as("n_bpe_tokens"),
        length(col("text")).as("n_chars_actual"))

  /** D2 — quality scoring: ratio features used for corpus filtering. */
  def textQuality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        alphaRatio(col("text")).as("alpha_ratio"),
        spaceRatio(col("text")).as("space_ratio"),
        stopwordRatio(col("text")).as("stopword_ratio"),
        meanTokenLen(col("text")).as("mean_token_len"))

  /** D3 — language ID: stopword-marker argmax heuristic (deterministic
    * tiebreak), aggregated to per-language counts.
    */
  def textLangid(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(langId(col("text")).as("pred_lang"))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  /** D14 — char-trigram language ID ([[graft.functions.TextFunctions
    * .langIdNgram]]): per-document verdicts from BOTH classifiers plus the
    * integer trigram score, so the gate hashes the full comparison surface
    * (including exactly where the two disagree). One scan, all scoring
    * inside the scan's codegen stage, no shuffle but the presentation one.
    */
  def textLangidNgram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        langId(col("text")).as("lang_stop"),
        langIdNgram(col("text")).as("lang_ngram"),
        langIdNgramScore(col("text")).as("ngram_score"))

  /** D4 — document fingerprint: md5 over normalized content. */
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** D6 — per-doc top-3 distinguishing terms (tf-idf): term frequency per
    * doc, document frequency over the corpus, weight = tf·ln(N/df). The
    * RANKING is integer-exact — (tf desc, df asc, term asc) — which is
    * monotone in tf-idf for fixed tf and never depends on a float compare,
    * so the selected rows are deterministic across engines; the float
    * weight is display output, rounded to 6 dp. Scale shape: one shuffle
    * for tf, one vocab-keyed shuffle join for df (vocabulary-sized, not
    * corpus-sized), a broadcast of the 1-row corpus count, and a per-doc
    * window — no corpus-sized collect anywhere.
    */
  def textTopTerms(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.join(dfc, "term")
      .crossJoin(broadcast(n))
      .withColumn("weight",
        round(col("tf") * log(col("n").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("term").asc)))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("weight"))
  }

  /** D7 — within-doc repetition signal (Gopher-style quality filter):
    * duplicate-word fraction and duplicate-3-gram fraction. A doc that is
    * mostly repeated phrases is boilerplate/spam; corpus pipelines threshold
    * on exactly these two ratios. Pure per-row map — no shuffle at all.
    */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"), grams3(col("w")).as("g"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_words"),
        size(array_distinct(col("w"))).as("n_distinct_words"),
        when(size(col("w")) > 0,
          (size(col("w")) - size(array_distinct(col("w")))).cast("double") / size(col("w")))
          .otherwise(0.0).as("dup_word_frac"),
        when(size(col("g")) > 0,
          (size(col("g")) - size(array_distinct(col("g")))).cast("double") / size(col("g")))
          .otherwise(0.0).as("dup_3gram_frac"))

  /** D8 — numeric-literal masking: the normalization pass a dedup pipeline
    * runs before fingerprinting so `{"k": 69}` and `{"k": 70}` collapse to
    * the same shape. Runs over events.props (the corpus' only digit-bearing
    * text column); pure per-row regex map, fused into the scan, no shuffle.
    * Spark's regexp_replace replaces all matches, matching DuckDB's 'g'.
    */
  def textMaskNumbers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        regexp_count(col("props"), lit("[0-9]+")).as("n_masked"),
        regexp_replace(col("props"), "[0-9]+", "<NUM>").as("masked"))

  /** D10 — PII masking patterns, shared verbatim by the Spark expressions
    * and the DuckDB oracle (both engines' regex dialects cover this common
    * subset: char classes, bounded counts, `\b`). Kept deliberately simple
    * and high-recall — corpus scrubbing wants false positives over leaks.
    */
  val PiiEmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PiiPhoneRe = """\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"""
  // NO leading \b on the digit-shaped patterns: a UUID/IP jammed against a
  // preceding digit run (e.g. a phone number) has no word boundary there,
  // and requiring one lets the span survive the scrub until a LATER
  // replacement manufactures the boundary — a one-pass PII leak. Without
  // it the match may start mid-run (over-masking a digit tail), which is
  // the right side of the trade for corpus scrubbing. The trailing \b
  // stays: it stops the bounded counts from sliding into following text.
  val PiiIpRe = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""
  val PiiUuidRe =
    """[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"""

  /** The D10 masking chain as a column expression: emails, then UUIDs, then
    * phones, then IPv4s (emails/UUIDs first — their matches contain
    * digit-dot/digit-dash runs the narrower patterns could bite into).
    * Pure per-row regexp maps: fuses into whatever scan feeds it, no
    * shuffle, trivially 100 TB-shaped.
    */
  def maskPiiCol(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, PiiEmailRe, "<EMAIL>"),
          PiiUuidRe, "<UUID>"),
        PiiPhoneRe, "<PHONE>"),
      PiiIpRe, "<IP>")

  /** SQL twin of [[maskPiiCol]] (DuckDB needs the explicit 'g' flag where
    * Spark replaces all matches by default). */
  def maskPiiSql(c: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       $c, '$PiiEmailRe', '<EMAIL>', 'g'),
       '$PiiUuidRe', '<UUID>', 'g'),
       '$PiiPhoneRe', '<PHONE>', 'g'),
       '$PiiIpRe', '<IP>', 'g')"""

  /** D10 — PII masking (emails / phones / IPv4s / UUIDs), the corpus-prep
    * scrub D8's numeric masking doesn't cover. The corpus itself carries no
    * PII-shaped spans (by construction), so the gated query PLANTS a
    * deterministic PII string per document — doc_id-derived email + IP for
    * every row, phone on every 3rd, UUID on every 2nd — and masks it: all
    * four patterns fire with row-varying payloads, and the per-class counts
    * vary too, so the hash gate exercises the real matching behavior of
    * both engines, not just a no-op pass.
    */
  /** The deterministic PII plant shared by the D10 gate and the H20 audit
    * — ONE definition per dialect, so the two gates can never silently
    * diverge on what was planted: doc_id-derived email + IP every row,
    * phone on every 3rd, UUID on every 2nd, row-varying payloads.
    */
  def plantPiiCol: Column = {
    val did = col("doc_id").cast("string")
    concat(
      lit("contact user"), did, lit("@ex"),
      pmod(col("doc_id"), lit(10L)).cast("string"), lit(".com"),
      when(col("doc_id") % 3 === 0, concat(lit(" call +1-415-555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
        .otherwise(""),
      lit(" from 10."), pmod(col("doc_id"), lit(256L)).cast("string"),
      lit(".0.1"),
      when(col("doc_id") % 2 === 0, concat(
        lit(" session 550e8400-e29b-41d4-a716-44665544"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
        .otherwise(""),
      lit(" note "), col("text"))
  }

  val plantPiiSql: String = """
        'contact user' || doc_id || '@ex' || (doc_id % 10) || '.com' ||
        CASE WHEN doc_id % 3 = 0
          THEN ' call +1-415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END ||
        ' from 10.' || (doc_id % 256) || '.0.1' ||
        CASE WHEN doc_id % 2 = 0
          THEN ' session 550e8400-e29b-41d4-a716-44665544' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END ||
        ' note ' || text"""

  def textMaskPii(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), plantPiiCol.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(PiiEmailRe)).as("n_email"),
        regexp_count(col("raw"), lit(PiiPhoneRe)).as("n_phone"),
        regexp_count(col("raw"), lit(PiiIpRe)).as("n_ip"),
        regexp_count(col("raw"), lit(PiiUuidRe)).as("n_uuid"),
        maskPiiCol(col("raw")).as("masked"))
  }

  val textMaskPiiSql: String = s"""
    WITH raw AS (
      SELECT doc_id, $plantPiiSql AS raw
      FROM documents)
    SELECT doc_id,
      CAST(LENGTH(regexp_extract_all(raw, '$PiiEmailRe')) AS INTEGER) AS n_email,
      CAST(LENGTH(regexp_extract_all(raw, '$PiiPhoneRe')) AS INTEGER) AS n_phone,
      CAST(LENGTH(regexp_extract_all(raw, '$PiiIpRe')) AS INTEGER) AS n_ip,
      CAST(LENGTH(regexp_extract_all(raw, '$PiiUuidRe')) AS INTEGER) AS n_uuid,
      ${maskPiiSql("raw")} AS masked
    FROM raw ORDER BY doc_id"""

  /** D17 — MOJIBAKE / encoding-damage detection (round-13; the ftfy-class
    * signal every web-corpus pipeline scores before training): counts of
    * the three canonical damage signatures — U+FFFD replacement characters
    * (a decoder already gave up), the UTF-8-read-as-Latin-1 signature
    * (Ã followed by a continuation-range codepoint — how "é" becomes
    * "Ã©"), and bare C1 control codepoints (U+0080–U+009F, the cp1252
    * round-trip residue) — plus a fixed-point damage-per-kchar score. The
    * corpus is clean ASCII by construction, so the gate PLANTS row-varying
    * doc_id-derived damage of all three classes (the D10 discipline); the
    * damaged text is built from Scala unicode literals shared by both
    * engines' query text, never chr() (Spark's chr truncates mod 256).
    */
  private val MojiReplRe = "\uFFFD"
  private val MojiLatin1Re = "\u00C3[\u0080-\u00BF]"
  private val MojiC1Re = "[\u0080-\u009F]"

  private def plantMojiCol: Column = concat(col("text"),
    expr("repeat('\uFFFD', CAST(pmod(doc_id, 3) AS INT))"),
    expr("repeat('\u00C3\u00A9', CAST(pmod(doc_id, 4) AS INT))"),
    expr("repeat('\u0085', CAST(pmod(doc_id, 5) AS INT))"))

  private val plantMojiSql: String =
    "text || repeat('\uFFFD', CAST(doc_id % 3 AS INT)) || " +
      "repeat('\u00C3\u00A9', CAST(doc_id % 4 AS INT)) || " +
      "repeat('\u0085', CAST(doc_id % 5 AS INT))"

  def textMojibake(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), plantMojiCol.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(MojiReplRe)).cast("long").as("n_replacement"),
        regexp_count(col("raw"), lit(MojiLatin1Re)).cast("long").as("n_latin1_utf8"),
        regexp_count(col("raw"), lit(MojiC1Re)).cast("long").as("n_c1_controls"),
        length(col("raw")).cast("long").as("n_chars"))
      .withColumn("damage_per_kchar", expr(
        "(1000 * (n_replacement + n_latin1_utf8 + n_c1_controls))" +
          " DIV greatest(n_chars, 1L)"))

  val textMojibakeSql: String = s"""
    WITH raw AS (SELECT doc_id, $plantMojiSql AS raw FROM documents)
    SELECT doc_id,
      CAST(LENGTH(regexp_extract_all(raw, '$MojiReplRe')) AS BIGINT) AS n_replacement,
      CAST(LENGTH(regexp_extract_all(raw, '$MojiLatin1Re')) AS BIGINT) AS n_latin1_utf8,
      CAST(LENGTH(regexp_extract_all(raw, '$MojiC1Re')) AS BIGINT) AS n_c1_controls,
      CAST(LENGTH(raw) AS BIGINT) AS n_chars,
      CAST((1000 * (LENGTH(regexp_extract_all(raw, '$MojiReplRe'))
          + LENGTH(regexp_extract_all(raw, '$MojiLatin1Re'))
          + LENGTH(regexp_extract_all(raw, '$MojiC1Re'))))
        // GREATEST(LENGTH(raw), 1) AS BIGINT) AS damage_per_kchar
    FROM raw ORDER BY doc_id"""

  /** D11 — per-DOMAIN corpus report: URL extraction + domain-level doc/url
    * counts, the primitive behind web-corpus curation (domain allow/deny
    * lists, per-domain quality cutoffs, crawl dedup all consume exactly
    * this table). The corpus carries no URLs by construction, so the gate
    * PLANTS deterministic doc_id-derived URLs (the D10 plant discipline:
    * row-varying hosts, a second URL on every 2nd row) and extracts the
    * host via the same capture-group regex in both engines. Shape: one
    * scan → explode(extract_all) → |domains|-row partial agg; at 100 TB
    * the report is domains-sized, never corpus-sized.
    */
  val UrlRe = """https?://([a-z0-9.-]+)[a-z0-9./_-]*"""

  def plantUrlCol: Column = concat(
    lit("see https://site"), pmod(col("doc_id"), lit(23L)).cast("string"),
    lit(".example"), pmod(col("doc_id"), lit(7L)).cast("string"),
    lit(".org/p/"), col("doc_id").cast("string"),
    when(col("doc_id") % 2 === 0, concat(
      lit(" and http://cdn"), pmod(col("doc_id"), lit(11L)).cast("string"),
      lit(".example.net/x"))).otherwise(""),
    lit(" ref "), col("text"))

  val plantUrlSql: String = """
        'see https://site' || (doc_id % 23) || '.example' || (doc_id % 7) ||
        '.org/p/' || doc_id ||
        CASE WHEN doc_id % 2 = 0
          THEN ' and http://cdn' || (doc_id % 11) || '.example.net/x'
          ELSE '' END ||
        ' ref ' || text"""

  def textUrlDomains(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), plantUrlCol.as("raw"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("raw"), lit(UrlRe), lit(1))).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))

  val textUrlDomainsSql: String = s"""
    WITH raw AS (
      SELECT doc_id, $plantUrlSql AS raw FROM documents),
    u AS (
      SELECT doc_id, unnest(regexp_extract_all(raw, '$UrlRe', 1)) AS domain
      FROM raw)
    SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
    FROM u GROUP BY domain ORDER BY domain"""

  /** D13 — HTML boilerplate stripping: the text-extraction step every
    * web-crawl pipeline runs before any quality scoring (trafilatura /
    * jusText territory, reduced to the deterministic regex core both
    * engines share). The corpus carries no markup by construction, so the
    * gate PLANTS a row-varying HTML wrapper (title/script/style/nav/ad/
    * footer with doc_id-derived payloads and HTML entities) and strips it:
    * script+style blocks drop WITH their content (non-greedy spans), other
    * tags become spaces, entities decode (&amp; last so it can't
    * manufacture new entities), whitespace collapses. Every stage is a
    * per-row regexp map fused into one scan — no shuffle, trivially
    * 100 TB-shaped — and the hash gate covers the full stripped string, so
    * both engines' regex/replace semantics are exercised end to end.
    */
  val ScriptRe = """<script[^>]*>.*?</script>"""
  val StyleRe = """<style[^>]*>.*?</style>"""
  val TagRe = """<[^>]+>"""

  def plantHtmlCol: Column = {
    val did = col("doc_id").cast("string")
    concat(
      lit("<html><head><title>Doc "), did,
      lit("</title><script type=\"text/javascript\">var id="), did,
      lit(";track()</script>"),
      when(col("doc_id") % 3 === 0,
        concat(lit("<style>.c"), pmod(col("doc_id"), lit(7L)).cast("string"),
          lit("{color:red}</style>"))).otherwise(""),
      lit("</head><body><nav>Home &amp; About&nbsp;Us</nav><h1>Doc "), did,
      lit("</h1><p>"), col("text"), lit("</p>"),
      when(col("doc_id") % 2 === 0,
        concat(lit("<div class=\"ad\">Buy now &lt;"),
          pmod(col("doc_id"), lit(50L)).cast("string"),
          lit("% off&gt;</div>"))).otherwise(""),
      lit("<footer>site"), pmod(col("doc_id"), lit(23L)).cast("string"),
      lit("</footer></body></html>"))
  }

  val plantHtmlSql: String = """
        '<html><head><title>Doc ' || doc_id ||
        '</title><script type="text/javascript">var id=' || doc_id ||
        ';track()</script>' ||
        CASE WHEN doc_id % 3 = 0
          THEN '<style>.c' || (doc_id % 7) || '{color:red}</style>'
          ELSE '' END ||
        '</head><body><nav>Home &amp; About&nbsp;Us</nav><h1>Doc ' || doc_id ||
        '</h1><p>' || text || '</p>' ||
        CASE WHEN doc_id % 2 = 0
          THEN '<div class="ad">Buy now &lt;' || (doc_id % 50) || '% off&gt;</div>'
          ELSE '' END ||
        '<footer>site' || (doc_id % 23) || '</footer></body></html>'"""

  def stripHtmlCol(c: Column): Column = {
    val noBlocks = regexp_replace(regexp_replace(c, ScriptRe, ""), StyleRe, "")
    val noTags = regexp_replace(noBlocks, TagRe, " ")
    val decoded = call_function("replace",
      call_function("replace",
        call_function("replace",
          call_function("replace", noTags, lit("&nbsp;"), lit(" ")),
          lit("&lt;"), lit("<")),
        lit("&gt;"), lit(">")),
      lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, " {2,}", " "))
  }

  def stripHtmlSql(x: String): String =
    s"""trim(regexp_replace(
       replace(replace(replace(replace(
         regexp_replace(regexp_replace(regexp_replace(
           $x, '$ScriptRe', '', 'g'), '$StyleRe', '', 'g'), '$TagRe', ' ', 'g'),
         '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
       ' {2,}', ' ', 'g'))"""

  def textStripHtml(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), plantHtmlCol.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(TagRe)).as("n_tags"),
        regexp_count(col("raw"), lit(ScriptRe)).as("n_scripts"),
        regexp_extract(col("raw"), "<title>([^<]*)</title>", 1).as("title"),
        stripHtmlCol(col("raw")).as("stripped"))
      .withColumn("stripped_chars", length(col("stripped")))

  val textStripHtmlSql: String = s"""
    WITH raw AS (
      SELECT doc_id, $plantHtmlSql AS raw FROM documents)
    SELECT doc_id,
      CAST(LENGTH(regexp_extract_all(raw, '$TagRe')) AS INTEGER) AS n_tags,
      CAST(LENGTH(regexp_extract_all(raw, '$ScriptRe')) AS INTEGER) AS n_scripts,
      regexp_extract(raw, '<title>([^<]*)</title>', 1) AS title,
      ${stripHtmlSql("raw")} AS stripped,
      length(${stripHtmlSql("raw")}) AS stripped_chars
    FROM raw ORDER BY doc_id"""

  /** D9 — BM25 keyword search (Robertson/Lucene idf form, k1=1.2, b=0.75):
    * score every document against a fixed query, return the top 20. The
    * term-frequency table is FILTERED to the query terms before any
    * aggregation (the posting scan touches query-term rows only, never the
    * full vocabulary); df and the corpus stats are 1-row/|q|-row broadcasts.
    * Determinism: each per-term score lands in its own conditional sum (≤1
    * nonzero addend → order-proof), the 3-term total is one fixed-order
    * expression rounded to 6 dp, and ln/÷ run IEEE-identically on both
    * engines. Top-k is TakeOrdered on (score DESC, doc_id).
    */
  val Bm25Terms: Seq[String] = Seq("dup", "join", "scan")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20

  def textBm25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("double").as("dl"), col("ws"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val dfT = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val scored = tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("score_t",
        col("idf") * (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / (col("sum_dl") / col("n_docs")))))
    val perTerm = Bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("score_t")).otherwise(0.0)).as(s"s$i")
    }
    scored.groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"),
        round(Bm25Terms.indices.map(i => col(s"s$i")).reduce(_ + _), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  val textBm25Sql: String = {
    val cases = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN term = '$t' THEN score_t ELSE 0.0 END) AS s$i"
    }.mkString(", ")
    val total = Bm25Terms.indices.map(i => s"s$i").mkString(" + ")
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""
    WITH docs AS (
      SELECT doc_id, CAST(len(str_split(text, ' ')) AS DOUBLE) AS dl,
        str_split(text, ' ') AS ws
      FROM documents),
    tf AS (
      SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, dl, unnest(ws) AS term FROM docs)
      WHERE term IN ($terms) GROUP BY 1, 2, 3),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) AS sum_dl FROM docs),
    dft AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
      FROM tf GROUP BY 1),
    scored AS (
      SELECT doc_id, term,
        LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
          * (tf * ${Bm25K1 + 1.0}) /
          (tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / (sum_dl / n_docs)))
          AS score_t
      FROM tf JOIN dft USING (term) CROSS JOIN stats),
    agg AS (SELECT doc_id, $cases FROM scored GROUP BY 1)
    SELECT doc_id, ROUND($total, 6) AS bm25 FROM agg
    ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK"""
  }

  /** D12 — RAKE keyphrase extraction (Rose et al. 2010), per document: the
    * doc-tagging primitive behind topic routing, index keywords, and
    * weak-label mining. Candidate phrases are maximal runs of non-stopword
    * tokens (gaps-and-islands over token positions), long runs CHUNKED into
    * [[RakeMaxLen]]-word phrases (this corpus is stopword-sparse — runs
    * average ~13 words, and the classic drop-the-run rule would discard 73%
    * of the content); each word scores degree/freq over ITS document
    * (degree = Σ lengths of phrases containing it, freq = occurrences), a
    * phrase scores the sum of its word scores, and the top [[RakeTopK]]
    * distinct phrases per doc win (score DESC, phrase tie-break).
    *
    * Determinism: degree/freq are exact integers; each word's score snaps
    * once to a 2^20 fixed-point long (the H22 device), so phrase scores are
    * integer sums — accumulation-order-proof, hash-gateable. Everything is
    * per-document: token positions, islands, stats, ranking all partition
    * by doc_id — embarrassingly parallel, zero corpus-wide shuffle; the
    * windows run inside each doc's partition (never a global sort).
    */
  val RakeMaxLen = 4
  val RakeTopK = 3
  val RakeStop: Seq[String] = Seq(
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "for", "on",
    "as", "with", "was", "are", "be", "by", "at", "an", "this", "or",
    "from", "not", "but", "over", "")

  def textKeyphrases(s: SparkSession, d: String): DataFrame =
    textKeyphrasesDf(Tables.documents(s, d))

  def textKeyphrasesDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w0")))
      .select(col("doc_id"), col("pos"), lower(col("w0")).as("w"))
      .filter(!col("w").isin(RakeStop: _*))
    // gaps-and-islands: consecutive non-stop positions share a run id;
    // long runs chunk into RakeMaxLen-word phrases (grp carries the chunk).
    // plen rides along as a THIRD window over the same doc-partitioned flow
    // (all three windows cluster by doc_id, one exchange) instead of the
    // former groupBy-then-self-join — the phrase string is assembled later
    // in the scoring aggregate from the identical (pos, w) rows, so the
    // whole phrase-stats pass needs one scan and zero phrase joins.
    val isl = tok
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .withColumn("run", col("pos") - col("rn"))
      .withColumn("cix", row_number().over(
        Window.partitionBy(col("doc_id"), col("run")).orderBy(col("pos"))))
      .withColumn("grp",
        concat_ws("#", col("run"), ((col("cix") - 1) / RakeMaxLen).cast("long")))
      .withColumn("plen",
        count(lit(1)).over(Window.partitionBy(col("doc_id"), col("grp"))))
      .select(col("doc_id"), col("pos"), col("w"), col("grp"), col("plen"))
    // token-level rows feed BOTH the word-stats aggregate and the scoring
    // join: persist once for the intra-query reuse (scope-released)
    val pw = graft.CacheScope.scopedPersist(isl)
    val ws = pw.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .withColumn("iscore",
        round(col("degree").cast("double") / col("freq") * lit(1048576.0))
          .cast("long"))
    val scored = pw.join(ws, Seq("doc_id", "w"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(sum(col("iscore")).as("iscore"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, w))), x -> x.w)")).as("phrase"))
      .select(col("doc_id"), col("phrase"), col("iscore")).distinct()
    val out = scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("iscore").desc, col("phrase"))))
      .filter(col("rank") <= RakeTopK)
      .select(col("doc_id"), col("rank"), col("phrase"),
        round(col("iscore") / lit(1048576.0), 6).as("score"))
    graft.CacheScope.releaseAfterUse(out, pw)
  }

  val textKeyphrasesSql: String = {
    val stopList = RakeStop.map(w => s"'$w'").mkString(", ")
    s"""
    WITH tok AS (
      SELECT doc_id, x AS pos, lower(ws[x + 1]) AS w
      FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
        LATERAL (SELECT unnest(range(len(ws))) AS x)),
    nz AS (SELECT * FROM tok WHERE w NOT IN ($stopList)),
    runs AS (
      SELECT doc_id, pos, w,
        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS run
      FROM nz),
    isl AS (
      SELECT doc_id, pos, w,
        run || '#' ||
          ((ROW_NUMBER() OVER (PARTITION BY doc_id, run ORDER BY pos) - 1)
            // $RakeMaxLen) AS grp
      FROM runs),
    phrases AS (
      SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
        COUNT(*) AS plen
      FROM isl GROUP BY 1, 2),
    pw AS (
      SELECT i.doc_id, i.grp, i.w, p.plen
      FROM isl i JOIN phrases p ON p.doc_id = i.doc_id AND p.grp = i.grp),
    ws AS (
      SELECT doc_id, w,
        CAST(round(CAST(SUM(plen) AS DOUBLE) / COUNT(*) * 1048576.0) AS BIGINT)
          AS iscore
      FROM pw GROUP BY 1, 2),
    scored AS (
      SELECT DISTINCT s.doc_id, p.phrase, s.iscore FROM (
        SELECT pw.doc_id, pw.grp, SUM(ws.iscore) AS iscore
        FROM pw JOIN ws ON ws.doc_id = pw.doc_id AND ws.w = pw.w
        GROUP BY 1, 2) s
      JOIN phrases p ON p.doc_id = s.doc_id AND p.grp = s.grp)
    SELECT doc_id, rank, phrase, ROUND(iscore / 1048576.0, 6) AS score FROM (
      SELECT doc_id, phrase, iscore,
        ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY iscore DESC, phrase) AS rank
      FROM scored) t
    WHERE rank <= $RakeTopK ORDER BY doc_id, rank"""
  }

  /** D15 — Unicode NORMALIZATION pass: NFC canonical composition +
    * zero-width/BOM stripping + space-run collapse + trim:
    * the standard first stage of any web-crawl text pipeline (mojibake,
    * decomposed accents from mac filesystems/OCR, invisible joiners that
    * break tokenizers and dedup fingerprints). The corpus is ASCII by
    * construction, so the gate PLANTS row-varying decomposed payloads
    * (4 combining-mark families by doc_id, zero-width trio + BOM, double
    * spaces) and both engines normalize the identical string — Spark via
    * the native [[graft.plans.NfcNormalize]] codegen expression, DuckDB
    * via `nfc_normalize` (utf8proc); both implement UAX #15, so composed
    * outputs match byte-for-byte.
    *
    * Scale: per-row expression chain fused into the scan (one pass, no
    * shuffle); the NFC fast path skips allocation on already-composed
    * text, which is ~all of a real corpus.
    */
  def plantMojibakeCol: Column = concat(
    lit("doc z\u200Bw\u200Cj\u200Dbom\uFEFF end  pre"),
    when(pmod(col("doc_id"), lit(4L)) === 0, lit("e\u0301"))
      .when(pmod(col("doc_id"), lit(4L)) === 1, lit("a\u0308"))
      .when(pmod(col("doc_id"), lit(4L)) === 2, lit("o\u0303"))
      .otherwise(lit("c\u0327")),
    lit("post  "), col("text"))

  val plantMojibakeSql: String =
    "'doc z' || chr(8203) || 'w' || chr(8204) || 'j' || chr(8205) || " +
      "'bom' || chr(65279) || ' end  pre' || " +
      "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'e' || chr(769) " +
      "WHEN 1 THEN 'a' || chr(776) WHEN 2 THEN 'o' || chr(771) " +
      "ELSE 'c' || chr(807) END || 'post  ' || text"

  def normalizeUnicodeCol(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.plans.NfcNorm.nfcCol(c),
        "[\u200B\u200C\u200D\uFEFF]", ""),
      " {2,}", " "))

  def normalizeUnicodeSql(x: String): String =
    "trim(regexp_replace(regexp_replace(nfc_normalize(" + x + "), " +
      "'[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']', '', 'g'), " +
      "' {2,}', ' ', 'g'))"

  def textNormalizeUnicode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), plantMojibakeCol.as("raw"))
      .select(col("doc_id"),
        length(col("raw")).as("n_raw"),
        normalizeUnicodeCol(col("raw")).as("normalized"))
      .withColumn("n_norm", length(col("normalized")))

  val textNormalizeUnicodeSql: String = s"""
    WITH raw AS (SELECT doc_id, $plantMojibakeSql AS raw FROM documents)
    SELECT doc_id, CAST(length(raw) AS INTEGER) AS n_raw,
      ${normalizeUnicodeSql("raw")} AS normalized,
      CAST(length(${normalizeUnicodeSql("raw")}) AS INTEGER) AS n_norm
    FROM raw ORDER BY doc_id"""

  /** D16 — READABILITY scoring (Flesch reading ease + Flesch-Kincaid
    * grade): the classic audience-level signal corpus curricula sort on
    * (simple-first ordering, textbook-vs-forum mix decisions). Both
    * formulas need sentence boundaries and the corpus carries none, so
    * the gate PLANTS them deterministically — a period after every
    * (5 + doc_id mod 7) words, row-varying sentence length by the D10
    * discipline. Syllables use the standard vowel-group heuristic
    * (runs of [aeiouy], one group ≈ one syllable). Every score is
    * fixed-point integer: FRE·1000 = 206835 − (1015·W) DIV S −
    * (84600·Syl) DIV W, FKGL·1000 = (390·W) DIV S + (11800·Syl) DIV W
    * − 15590 — floor division, zero-guarded, so the gate is hash-exact
    * with no float anywhere. One fused scan, no shuffle.
    */
  def textReadability(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ln", (lit(5L) + pmod(col("doc_id"), lit(7L))).cast("int"))
      .withColumn("planted", array_join(expr(
        "transform(filter(split(text, ' '), x -> x <> ''), " +
          "(w, i) -> CASE WHEN (i + 1) % ln = 0 THEN concat(w, '.') ELSE w END)"),
        " "))
      .select(col("doc_id"), col("ln").cast("long").as("sentence_len"),
        size(words(col("planted"))).cast("long").as("n_words"),
        greatest(regexp_count(col("planted"), lit("[.!?]+")).cast("long"), lit(1L))
          .as("n_sentences"),
        regexp_count(lower(col("planted")), lit("[aeiouy]+")).cast("long")
          .as("n_syllables"))
      .withColumn("fre_milli", expr(
        "206835 - (1015 * n_words) DIV n_sentences" +
          " - (84600 * n_syllables) DIV greatest(n_words, 1L)"))
      .withColumn("fkgl_milli", expr(
        "(390 * n_words) DIV n_sentences" +
          " + (11800 * n_syllables) DIV greatest(n_words, 1L) - 15590"))
      .withColumn("band",
        when(col("fre_milli") >= 70000, "easy")
          .when(col("fre_milli") >= 50000, "standard")
          .when(col("fre_milli") >= 30000, "difficult")
          .otherwise("very_difficult"))

  val textReadabilitySql: String = """
    WITH p AS (
      SELECT doc_id, 5 + doc_id % 7 AS ln,
        list_filter(str_split(text, ' '), x -> x <> '') AS ws
      FROM documents),
    pl AS (
      SELECT doc_id, ln,
        array_to_string([CASE WHEN i % ln = 0 THEN ws[i] || '.' ELSE ws[i] END
                         for i in range(1, len(ws) + 1)], ' ') AS planted
      FROM p),
    c AS (
      SELECT doc_id, CAST(ln AS BIGINT) AS sentence_len,
        CAST(len(list_filter(str_split(planted, ' '), x -> x <> '')) AS BIGINT)
          AS n_words,
        greatest(CAST(len(regexp_extract_all(planted, '[.!?]+')) AS BIGINT), 1)
          AS n_sentences,
        CAST(len(regexp_extract_all(lower(planted), '[aeiouy]+')) AS BIGINT)
          AS n_syllables
      FROM pl),
    sc AS (
      SELECT doc_id, sentence_len, n_words, n_sentences, n_syllables,
        206835 - (1015 * n_words) // n_sentences
          - (84600 * n_syllables) // greatest(n_words, 1) AS fre_milli,
        (390 * n_words) // n_sentences
          + (11800 * n_syllables) // greatest(n_words, 1) - 15590 AS fkgl_milli
      FROM c)
    SELECT doc_id, sentence_len, n_words, n_sentences, n_syllables,
      CAST(fre_milli AS BIGINT) AS fre_milli,
      CAST(fkgl_milli AS BIGINT) AS fkgl_milli,
      CASE WHEN fre_milli >= 70000 THEN 'easy'
           WHEN fre_milli >= 50000 THEN 'standard'
           WHEN fre_milli >= 30000 THEN 'difficult'
           ELSE 'very_difficult' END AS band
    FROM sc ORDER BY doc_id"""

  /** D18 — feature-hashing vectorizer (the "hashing trick", Weinberger et
    * al. 2009; sklearn HashingVectorizer): every document becomes a sparse
    * integer vector with NO trained vocabulary — dim = hash(word) mod D,
    * contribution ±1 by an independent hash bit (the signed variant that
    * keeps E[v·v'] unbiased under collisions). This is the CHEAP embedding
    * a pipeline reaches for before a model exists: it feeds the F-block's
    * cosine machinery (dedup, ANN) at the cost of one scan — and because
    * the whole vector is integer COUNTS, the gate is hash-exact with no
    * float anywhere. One explode → codegen'd PolyHash → map-side-combined
    * (doc, dim) sum; output ≤ D rows per doc (sparse: zero sums dropped),
    * so the result is corpus-linear with a tiny constant at any scale.
    * Dim count and the sign bit share the splitmix-mixed hash: dim = low 5
    * bits (power-of-two modulus — signed pmod == unsigned %), sign = bit 6
    * (disjoint from the dim bits, so sign is independent of dim). */
  val HashEmbedDims = 32

  def textHashEmbed(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("w"))
      .withColumn("h", graft.plans.MixHash.polyHashCol(col("w")))
      .groupBy(col("doc_id"),
        pmod(col("h"), lit(HashEmbedDims.toLong)).cast("int").as("dim"))
      .agg(sum(lit(1L) - lit(2L) *
        shiftright(col("h"), 6).bitwiseAND(lit(1L))).as("v"))
      .filter(col("v") =!= 0L)

  private def textHashEmbedSql: String = s"""
    WITH tk AS (
      SELECT doc_id, unnest(list_filter(str_split(lower(text), ' '),
        x -> x <> '')) AS w
      FROM documents),
    ${graft.plans.MixHash.sqlMixedCtes("tk", "w", Seq("doc_id"), "hh")}
    SELECT doc_id, CAST(h % $HashEmbedDims AS INTEGER) AS dim,
      CAST(SUM(1 - 2 * CAST((h // 64) % 2 AS BIGINT)) AS BIGINT) AS v
    FROM hh GROUP BY 1, 2
    HAVING SUM(1 - 2 * CAST((h // 64) % 2 AS BIGINT)) <> 0
    ORDER BY 1, 2"""

  val ops: Map[String, Op] = Map(
    "text_hash_embed" -> Op(textHashEmbed _, textHashEmbedSql),
    "text_readability" -> Op(textReadability _, textReadabilitySql),
    "text_normalize_unicode" -> Op(textNormalizeUnicode _, textNormalizeUnicodeSql),
    "text_keyphrases" -> Op(textKeyphrases _, textKeyphrasesSql),
    "text_strip_html" -> Op(textStripHtml _, textStripHtmlSql),
    "text_bm25_search" -> Op(textBm25 _, textBm25Sql),
    "text_mask_pii" -> Op(textMaskPii _, textMaskPiiSql),
    "text_mojibake" -> Op(textMojibake _, textMojibakeSql),
    "text_url_domains" -> Op(textUrlDomains _, textUrlDomainsSql),
    "text_mask_numbers" -> Op(textMaskNumbers _, """
      SELECT event_id,
        CAST(LENGTH(regexp_extract_all(props, '[0-9]+')) AS INTEGER) AS n_masked,
        regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS masked
      FROM events ORDER BY event_id"""),
    "text_tokens" -> Op(textTokens _, s"""
      SELECT doc_id, ${wsTokensSql("text")} AS n_ws_tokens,
        ${bpeTokensSql("text")} AS n_bpe_tokens,
        length(text) AS n_chars_actual
      FROM documents ORDER BY doc_id"""),
    "text_quality" -> Op(textQuality _, s"""
      SELECT doc_id,
        ${alphaRatioSql("text")} AS alpha_ratio,
        ${spaceRatioSql("text")} AS space_ratio,
        ${stopwordRatioSql("text")} AS stopword_ratio,
        ${meanTokenLenSql("text")} AS mean_token_len
      FROM documents ORDER BY doc_id"""),
    "text_langid" -> Op(textLangid _, s"""
      SELECT ${langIdSql("text")} AS pred_lang, COUNT(*) AS n
      FROM documents GROUP BY 1 ORDER BY 1"""),
    "text_langid_ngram" -> Op(textLangidNgram _, s"""
      SELECT doc_id, ${langIdSql("text")} AS lang_stop,
        ${langIdNgramSql("text")} AS lang_ngram,
        ${langIdNgramScoreSql("text")} AS ngram_score
      FROM documents ORDER BY doc_id"""),
    "text_fingerprint" -> Op(textFingerprint _, s"""
      SELECT doc_id, ${fingerprintSql("text")} AS fp
      FROM documents ORDER BY doc_id"""),
    "text_top_terms" -> Op(textTopTerms _, s"""
      WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(${wordsSql("text")}) AS term FROM documents)
        GROUP BY doc_id, term),
      dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      nx AS (SELECT COUNT(*) AS n FROM documents),
      ranked AS (
        SELECT doc_id, tf.term AS term, tf.tf AS tf, dfx.df AS df,
          ROUND(tf.tf * ln(CAST(nx.n AS DOUBLE) / dfx.df), 6) AS weight,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY tf.tf DESC, dfx.df ASC, tf.term ASC) AS rk
        FROM tf JOIN dfx USING (term) CROSS JOIN nx)
      SELECT doc_id, term, tf, df, weight FROM ranked WHERE rk <= 3
      ORDER BY doc_id, term"""),
    "text_repetition" -> Op(textRepetition _, s"""
      WITH w AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
      g AS (SELECT doc_id, w, ${grams3Sql("w")} AS g FROM w)
      SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct_words,
        CASE WHEN len(w) > 0
          THEN CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w)
          ELSE 0.0 END AS dup_word_frac,
        CASE WHEN len(g) > 0
          THEN CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g)
          ELSE 0.0 END AS dup_3gram_frac
      FROM g ORDER BY doc_id""")
  )
}
