package perfbench

import graft.core.ExtractCore
import graft.core.html.{BlockSegmenter, Boilerplate, CharsetSniffer, HeadMeta}
import graft.core.pdf.PdfTextExtractor
import graft.core.rules.{FieldMapper, PatternClassifier, TableParser, Validator}
import graft.pipeline.Page

/** Single-thread timings of the extraction core over a page sample.
  *
  * `processPage` is timed whole; each of its public steps is then timed on
  * its own, in the same order and on the same inputs as `processPage`
  * runs them. `segment` is an extra call after the others: it is also
  * part of `boilerplate` (Boilerplate.extract segments first), so it is
  * left out of the attributed sum. Per pass the record holds nanosecond totals;
  * `run.py` turns them into µs per page and fractions.
  */
object CoreProbe {
  val Steps: Seq[String] = Seq("charset", "segment", "boilerplate", "head", "pdf",
    "tables", "classify", "fields", "postprocess", "confidence")

  final class Pass(n: Int) {
    var pageNs = 0L
    val perPageNs: Array[Long] = new Array[Long](n)
    val stepNs: Array[Long] = new Array[Long](Steps.length)
    val stepPages: Array[Long] = new Array[Long](Steps.length)
    var textPages = 0L
    var genericRetries = 0L
  }

  private def idx(name: String): Int = Steps.indexOf(name)
  private val Charset = idx("charset"); private val Segment = idx("segment")
  private val BoilerplateI = idx("boilerplate"); private val Head = idx("head")
  private val Pdf = idx("pdf"); private val Tables = idx("tables")
  private val Classify = idx("classify"); private val Fields = idx("fields")
  private val Post = idx("postprocess"); private val Conf = idx("confidence")

  private def timed[T](pass: Pass, step: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    pass.stepNs(step) += System.nanoTime() - t0
    pass.stepPages(step) += 1
    r
  }

  def onePass(pages: Array[Page]): Pass = {
    val pass = new Pass(pages.length)
    pages.indices.foreach { i =>
      val p = pages(i)
      val t0 = System.nanoTime()
      ExtractCore.processPage(p.html, p.text)
      pass.perPageNs(i) = System.nanoTime() - t0
      pass.pageNs += pass.perPageNs(i)
    }
    pages.foreach { p =>
      val html = p.html
      var text =
        if (html == null || html.isEmpty) ""
        else if (PdfTextExtractor.isPdf(html)) timed(pass, Pdf)(PdfTextExtractor.extract(html))
        else {
          val decoded = timed(pass, Charset)(CharsetSniffer.decode(html))
          val ex = timed(pass, BoilerplateI)(Boilerplate.extract(decoded))
          timed(pass, Head)(HeadMeta.parse(decoded))
          timed(pass, Segment)(BlockSegmenter.segment(decoded))
          ex.text
        }
      if (text.trim.isEmpty) text = if (p.text != null && p.text.trim.nonEmpty) p.text else ""
      if (text.trim.nonEmpty) {
        pass.textPages += 1
        val tables = timed(pass, Tables)(TableParser.parse(text))
        timed(pass, Classify)(PatternClassifier.classify(text, tables))
        val chosen = timed(pass, Fields) {
          val format = FieldMapper.sniff(text)
          val first = Validator.validate(FieldMapper.extract(text, format, tables))
          if (first.isValid || format == FieldMapper.GenericFormat) first
          else {
            pass.genericRetries += 1
            val second = Validator.validate(FieldMapper.extract(text, FieldMapper.GenericFormat, tables))
            if (second.isValid) second else first
          }
        }
        val rec = timed(pass, Post)(ExtractCore.postProcess(chosen.record, text))
        timed(pass, Conf)(ExtractCore.confidence(rec))
      }
    }
    pass
  }

  /** One untimed pass to settle the JIT, then `passes` timed passes. */
  def run(pages: Array[Page], passes: Int): Map[String, Any] = {
    onePass(pages)
    val ps = (0 until passes).map(_ => onePass(pages))
    Map(
      "pages" -> pages.length,
      "pdf_pages" -> ps.head.stepPages(Pdf),
      "html_pages" -> ps.head.stepPages(Charset),
      "text_pages" -> ps.head.textPages,
      "generic_retries" -> ps.head.genericRetries,
      "page_ns" -> ps.map(_.pageNs),
      "per_page_ns" -> ps.flatMap(_.perPageNs.toSeq),
      "step_ns" -> Steps.zipWithIndex.map { case (s, i) => s -> ps.map(_.stepNs(i)) }.toMap,
      "step_pages" -> Steps.zipWithIndex.map { case (s, i) => s -> ps.head.stepPages(i) }.toMap)
  }

  /** `WarcReader.records` over staged segments: total ns and records per pass. */
  def warcRead(files: Seq[java.io.File], passes: Int): Map[String, Any] = {
    def pass(): (Long, Long) = {
      val t0 = System.nanoTime()
      var n = 0L
      files.foreach { f =>
        val in = new java.io.FileInputStream(f)
        try graft.core.warc.WarcReader.records(in).foreach(_ => n += 1)
        finally in.close()
      }
      (System.nanoTime() - t0, n)
    }
    pass()
    val ps = (0 until passes).map(_ => pass())
    Map("records" -> ps.head._2, "ns" -> ps.map(_._1))
  }

  /** Single-thread pages/s over a fixed sample: the same host control as
    * the frozen Bench's `ref_single_thread_docs_per_sec`.
    */
  def singleThreadRate(pages: Array[Page]): Double = {
    pages.foreach(p => ExtractCore.processPage(p.html, p.text))
    val t0 = System.nanoTime()
    pages.foreach(p => ExtractCore.processPage(p.html, p.text))
    pages.length / ((System.nanoTime() - t0) / 1e9)
  }
}
