package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}
import graft.core.rules._

/** Scalar function surface (SURVEY.md §2.8/§2.11): the extract-core rules
  * exposed as Spark SQL functions.
  *
  *  - `extract_main_content` is a native Catalyst [[ExtractMainContent]]
  *    expression (codegen-aware);
  *  - the field rules are plain `udf`s over the pure core functions — they
  *    run per extracted field, not per byte, so udf overhead is noise;
  *  - registration is available both imperatively ([[register]]) and via
  *    `SparkSessionExtensions` ([[GraftExtensions]], for
  *    `spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object GraftFunctions {

  /** Column-level form; requires [[register]] (Spark 4 keeps direct
    * Expression→Column construction private, so this resolves through the
    * session function registry).
    */
  def extract_main_content(c: Column): Column =
    org.apache.spark.sql.functions.call_function("extract_main_content", c)

  /** Head metadata over raw page bytes (charset-sniffed decode → one
    * tokenizer pass): title, canonical link (the site-declared dup
    * signal), robots noindex/nofollow. Returned as a struct column.
    */
  val headMeta = udf((html: Array[Byte]) =>
    if (html == null) graft.core.html.HeadMeta("", None, noindex = false, nofollow = false)
    else graft.core.html.HeadMeta.parse(graft.core.html.CharsetSniffer.decode(html)))

  /** URL normalization for URL-level dedup — see
    * [[graft.core.html.UrlResolver.normalizeUrl]] (fragment/default-port/
    * tracking-param removal, lowercased authority).
    */
  val urlNormalize = udf((u: String) => graft.core.html.UrlResolver.normalizeUrl(u))

  /** Robots Exclusion Protocol decision — parse + longest-match per RFC
    * 9309 ([[graft.core.html.RobotsTxt]]). Column shape for per-row use;
    * the crawler hot path caches `RobotsTxt.parse` per host instead.
    */
  val robotsAllowed = udf((robotsTxt: String, path: String) =>
    graft.core.html.RobotsTxt.allowed(
      if (robotsTxt == null) "" else robotsTxt,
      if (path == null) "/" else path))

  /** `Sitemap:` urls declared in a robots.txt body, file order — the
    * group-independent record ([[graft.core.html.RobotsTxt.sitemaps]])
    * that bootstraps sitemap discovery for a host.
    */
  val robotsSitemaps = udf((robotsTxt: String) =>
    if (robotsTxt == null) Seq.empty[String]
    else graft.core.html.RobotsTxt.sitemaps(robotsTxt))

  /** Sitemap entries as rows — [[graft.core.html.SitemapXml]]'s tolerant
    * scanner in column shape (absent lastmod → "", absent priority → -1,
    * keeping the struct null-free for the relational consumers).
    */
  val sitemapEntries = udf((xml: String) =>
    if (xml == null) Seq.empty[graft.functions.SitemapRow]
    else graft.core.html.SitemapXml.parse(xml).entries.map(e =>
      graft.functions.SitemapRow(e.loc, e.lastmod.getOrElse(""),
        e.priority.getOrElse(-1.0))))

  /** Outgoing links over raw page bytes (charset-sniffed decode → one
    * tokenizer pass): absolute targets (<base href>-aware RFC 3986
    * resolution), flattened anchor text, rel=nofollow flag — the input
    * to frontier expansion, host ranking (q89's edge shape), and
    * anchor-text indexing. See [[graft.core.html.LinkExtractor]].
    */
  val outlinks = udf((html: Array[Byte], pageUrl: String) =>
    if (html == null) Seq.empty[graft.functions.OutLinkRow]
    else graft.core.html.LinkExtractor.extract(
      graft.core.html.CharsetSniffer.decode(html),
      if (pageUrl == null) "" else pageUrl)
      .map(l => graft.functions.OutLinkRow(l.target, l.anchor, l.nofollow)))

  /** PII redaction as a codegen'd projection (q75, CuratedPipeline
    * `scrubPii`): emails → `<EMAIL>`, dotted quads → `<IP>`, phone shapes →
    * `<PHONE>`, in that fixed order, with per-type match counts. The
    * pattern strings live in [[graft.core.rules.PiiScrubber]] and are
    * RE2-compatible so the DuckDB oracle runs them verbatim.
    */
  def piiScrub(text: Column): Column = {
    import org.apache.spark.sql.functions._
    import graft.core.rules.PiiScrubber._
    val t = coalesce(text, lit(""))
    val ne = size(regexp_extract_all(t, lit(EmailPattern), lit(0)))
    val afterE = regexp_replace(t, EmailPattern, EmailToken)
    val ni = size(regexp_extract_all(afterE, lit(Ipv4Pattern), lit(0)))
    val afterI = regexp_replace(afterE, Ipv4Pattern, IpToken)
    val np = size(regexp_extract_all(afterI, lit(PhonePattern), lit(0)))
    val afterP = regexp_replace(afterI, PhonePattern, PhoneToken)
    struct(afterP.as("clean"), ne.as("n_emails"), ni.as("n_ips"), np.as("n_phones"))
  }

  /** Gopher quality rules (Rae et al. 2021, "Scaling Language Models",
    * Table A1 — the public standard for web-corpus filtering), as a
    * built-ins-only struct of per-rule booleans + the overall decision.
    * Built entirely from Catalyst expressions so the whole rule set is
    * one codegen'd projection (and mirrorable in the DuckDB oracle):
    *
    *   wordcount_ok : 50 ≤ #words ≤ 100000
    *   meanlen_ok   : 3 ≤ mean word length ≤ 10
    *   symbol_ok    : (#'#' + #'...') / #words ≤ 0.1
    *   bullet_ok    : ≤ 90% of lines start with a bullet
    *   ellipsis_ok  : ≤ 30% of lines end with '...'
    *   alpha_ok     : ≥ 80% of words contain a letter
    *   stopword_ok  : ≥ 2 distinct of the 8 Gopher stop words appear
    */
  def gopherQuality(text: Column): Column = {
    import org.apache.spark.sql.functions._
    val t = coalesce(text, lit(""))
    val words = split(t, " ")
    val wc = size(words).cast("double")
    val lines = split(t, "\n")
    val nLines = size(lines).cast("double")
    val totalWordLen = aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double")
    val hashCount = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
    val ellipsisCount = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("double")
    val bulletLines = size(filter(lines, l =>
      l.startsWith("•") || l.startsWith("- ") || l.startsWith("* "))).cast("double")
    val ellipsisLines = size(filter(lines, l => l.endsWith("..."))).cast("double")
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double")
    val lw = concat(lit(" "), lower(t), lit(" "))
    val stopDistinct = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(s => when(lw.contains(s" $s "), 1).otherwise(0))
      .reduce(_ + _)
    val wordcountOk = wc >= 50 && wc <= 100000
    val meanlenOk = wc > 0 && totalWordLen / wc >= 3.0 && totalWordLen / wc <= 10.0
    val symbolOk = wc > 0 && (hashCount + ellipsisCount) / wc <= 0.1
    val bulletOk = nLines > 0 && bulletLines / nLines <= 0.9
    val ellipsisOk = nLines > 0 && ellipsisLines / nLines <= 0.3
    val alphaOk = wc > 0 && alphaWords / wc >= 0.8
    val stopwordOk = stopDistinct >= 2
    struct(
      wordcountOk.as("wordcount_ok"), meanlenOk.as("meanlen_ok"),
      symbolOk.as("symbol_ok"), bulletOk.as("bullet_ok"),
      ellipsisOk.as("ellipsis_ok"), alphaOk.as("alpha_ok"),
      stopwordOk.as("stopword_ok"),
      (wordcountOk && meanlenOk && symbolOk && bulletOk &&
        ellipsisOk && alphaOk && stopwordOk).as("pass"))
  }

  // F1 — pattern classification (key only; confidence via identify_pattern_confidence)
  val identifyPattern = udf((text: String) =>
    if (text == null) null else PatternClassifier.classify(text)._1)
  val identifyPatternConfidence = udf((text: String) =>
    if (text == null) null.asInstanceOf[java.lang.Double]
    else java.lang.Double.valueOf(PatternClassifier.classify(text)._2))

  // F5 — typed result: null when the reference would pass through a string
  val weightToKg = udf((w: String) =>
    FieldRules.convertWeightToKg(w).toOption.map(java.lang.Double.valueOf).orNull)

  // F6
  val normalizeDate = udf((s: String) => FieldRules.normalizeDate(s))
  // F7
  val scrubInvoiceNumber = udf((s: String) => FieldRules.scrubInvoiceNumber(s))
  // F8
  val scrubHsn = udf((s: String) => FieldRules.scrubHsn(s))
  // F9
  val scrubQuantity = udf((s: String) => FieldRules.scrubQuantity(s))
  // F10
  val scrubMoney = udf((s: String) => FieldRules.scrubMoney(s))
  // F11
  val recoverFssai = udf((s: String) =>
    if (s == null) None else FieldRules.recoverFssai(s))
  // F13 — code-fence strip (reference's LLM-response cleanup; pure string op)
  val stripCodeFences = udf((s: String) => MiscRules.stripCodeFences(s))
  // F19 — human-readable file size (reference's formatFileSize)
  val humanFileSize = udf((b: java.lang.Long) =>
    if (b == null) null else MiscRules.humanFileSize(b))
  // F3 — column profile string (byte-exact fixture format)
  val profileColumns = udf((s: String) => if (s == null) null else ColumnProfiler.profile(s))
  // F4 — table-region locator
  val locateTable = udf((s: String) => if (s == null) null else TableLocator.locate(s))

  /** Register everything on a session (SQL-callable). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_main_content", exprs => ExtractMainContent(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash48", exprs => SimHash48(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize", exprs => NfcNormalize(exprs.head), "built-in")
    spark.udf.register("identify_pattern", identifyPattern)
    spark.udf.register("identify_pattern_confidence", identifyPatternConfidence)
    spark.udf.register("weight_to_kg", weightToKg)
    spark.udf.register("normalize_date", normalizeDate)
    spark.udf.register("scrub_invoice_number", scrubInvoiceNumber)
    spark.udf.register("scrub_hsn", scrubHsn)
    spark.udf.register("scrub_quantity", scrubQuantity)
    spark.udf.register("scrub_money", scrubMoney)
    spark.udf.register("recover_fssai", recoverFssai)
    spark.udf.register("strip_code_fences", stripCodeFences)
    spark.udf.register("human_file_size", humanFileSize)
    spark.udf.register("url_normalize", urlNormalize)
    spark.udf.register("profile_columns", profileColumns)
    spark.udf.register("locate_table", locateTable)
    spark.udf.register("incremental_mean", org.apache.spark.sql.functions.udaf(IncrementalMean))
  }
}

/** `spark.sql.extensions`-injectable registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("extract_main_content"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[ExtractMainContent].getName, "extract_main_content"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ExtractMainContent(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("simhash48"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SimHash48].getName, "simhash48"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHash48(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("nfc_normalize"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        NfcNormalize(exprs.head)))
  }
}

/** A10 — the reference's incremental/weighted running mean
  * (dashboard.js:359-376) as a typed `Aggregator`: explicit partial
  * (executor-local) + merge (cross-partition) aggregation, the exact
  * streaming-merge shape built-in `avg` uses internally.
  */
object IncrementalMean extends Aggregator[Double, (Double, Long), Double] {
  override def zero: (Double, Long) = (0.0, 0L)
  override def reduce(b: (Double, Long), a: Double): (Double, Long) = (b._1 + a, b._2 + 1)
  override def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) = (x._1 + y._1, x._2 + y._2)
  override def finish(r: (Double, Long)): Double = if (r._2 == 0) Double.NaN else r._1 / r._2
  override def bufferEncoder: Encoder[(Double, Long)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** Top-level so the sitemap udf's return element gets a derivable encoder
  * (absent lastmod → "", absent priority → -1.0 — null-free by
  * construction; see [[GraftFunctions.sitemapEntries]]).
  */
final case class SitemapRow(loc: String, lastmod: String, priority: Double)

/** Top-level for the same encoder reason as [[SitemapRow]] — one outlink
  * of [[GraftFunctions.outlinks]].
  */
final case class OutLinkRow(target: String, anchor: String, nofollow: Boolean)
