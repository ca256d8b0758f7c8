package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.warc.{WarcReader, WarcRecord}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

class WarcSpec extends AnyFunSuite {

  private def warcRecord(tpe: String, uri: String, date: String, block: Array[Byte],
      blockType: String = "application/http; msgtype=response"): Array[Byte] = {
    val h = new StringBuilder
    h.append("WARC/1.0\r\n")
    h.append(s"WARC-Type: $tpe\r\n")
    if (uri.nonEmpty) h.append(s"WARC-Target-URI: $uri\r\n")
    h.append(s"WARC-Date: $date\r\n")
    h.append(s"WARC-Record-ID: <urn:uuid:$tpe-${uri.hashCode}>\r\n")
    h.append(s"Content-Type: $blockType\r\n")
    h.append(s"Content-Length: ${block.length}\r\n")
    h.append("\r\n")
    h.toString.getBytes(ISO_8859_1) ++ block ++ "\r\n\r\n".getBytes(ISO_8859_1)
  }

  private def httpResponse(status: Int, ctype: String, body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 $status ${if (status == 200) "OK" else "ERR"}\r\n" +
      s"Content-Type: $ctype\r\nServer: t\r\n\r\n").getBytes(ISO_8859_1) ++ body

  private val prose = (1 to 40).map(k => s"warcword$k").mkString(" ")
  private val html1 = s"<html><body><p>first page body with several words $prose</p></body></html>".getBytes(UTF_8)
  private val html2 = s"<html><body><p>second page entirely different text $prose</p></body></html>".getBytes(UTF_8)

  /** warcinfo + request (skipped) + 200 response + 404 response + 200. */
  private def segment(): Array[Byte] =
    warcRecord("warcinfo", "", "2025-06-01T00:00:00Z",
      "software: graft-test\r\n".getBytes(ISO_8859_1), "application/warc-fields") ++
    warcRecord("request", "https://ex.com/a", "2025-06-01T01:00:00Z",
      "GET /a HTTP/1.1\r\nHost: ex.com\r\n\r\n".getBytes(ISO_8859_1),
      "application/http; msgtype=request") ++
    warcRecord("response", "https://ex.com/a", "2025-06-01T01:00:00Z",
      httpResponse(200, "text/html", html1)) ++
    warcRecord("response", "https://ex.com/missing", "2025-06-01T02:00:00Z",
      httpResponse(404, "text/html", "<html>gone</html>".getBytes(UTF_8))) ++
    warcRecord("response", "https://ex.com/b", "2025-06-01T03:00:00Z",
      httpResponse(200, "text/html; charset=utf-8", html2))

  private def gzipPerRecord(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach { r =>
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(r); gz.finish()
    }
    out.toByteArray
  }

  test("plain WARC: record framing, type filter fields, HTTP split") {
    val recs = WarcReader.records(new java.io.ByteArrayInputStream(segment())).toList
    assert(recs.map(_.warcType) == List("warcinfo", "request", "response", "response", "response"))
    val ok = recs.filter(r => r.warcType == "response" && r.httpStatus == 200)
    assert(ok.map(_.targetUri) == List("https://ex.com/a", "https://ex.com/b"))
    assert(ok.head.body.sameElements(html1))
    assert(ok(1).body.sameElements(html2))
    assert(ok(1).httpContentType == "text/html; charset=utf-8")
    assert(recs(3).httpStatus == 404)
  }

  test("per-record-gzip WARC (the Common Crawl layout) parses through the same path") {
    val members = Seq(
      warcRecord("response", "https://ex.com/a", "2025-06-01T01:00:00Z",
        httpResponse(200, "text/html", html1)),
      warcRecord("response", "https://ex.com/b", "2025-06-01T03:00:00Z",
        httpResponse(200, "text/html", html2)))
    val gz = gzipPerRecord(members)
    assert(WarcReader.isGzip(gz))
    val recs = WarcReader.records(new java.io.ByteArrayInputStream(gz)).toList
    assert(recs.map(_.targetUri) == List("https://ex.com/a", "https://ex.com/b"))
    assert(recs(1).body.sameElements(html2))
  }

  test("torn tail yields the good prefix, never throws") {
    val bytes = segment()
    val torn = java.util.Arrays.copyOf(bytes, bytes.length - 40) // cut into the last block
    val recs = WarcReader.records(new java.io.ByteArrayInputStream(torn)).toList
    assert(recs.length == 4) // last response lost, everything before intact
    assert(recs.last.httpStatus == 404)
  }

  test("WarcSource: segment files → Dataset[Page] → extract core end-to-end") {
    val dir = graft.TestDirs.create("graft-warc")
    java.nio.file.Files.write(dir.resolve("seg-00000.warc"), segment())
    java.nio.file.Files.write(dir.resolve("seg-00001.warc.gz"), gzipPerRecord(Seq(
      warcRecord("response", "https://ex.com/c", "2025-06-02T00:00:00Z",
        httpResponse(200, "text/html", html1)))))
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("warc-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val pages = graft.pipeline.WarcSource.readPages(spark, s"$dir/seg-*").collect()
      // HTTP-200 responses only: the 404 is excluded
      assert(pages.map(_.url).sorted.toSeq ==
        Seq("https://ex.com/a", "https://ex.com/b", "https://ex.com/c"))
      assert(pages.forall(_.warc_ts.getTime > 0))
      // ingested pages flow straight through the extract core
      val r = ExtractCore.processPage(pages.sortBy(_.url).head.html, "")
      assert(r.extractedText.contains("first page body with several words"))
    } finally spark.stop()
  }

  test("WET round-trip: extract → WET export → WarcReader reads back identical text") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("wet-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val extracted = graft.pipeline.ExtractStage.run(
        graft.pipeline.ExtractStage.generatePages(spark, 50, partitions = 3))
        .filter(_.success).toDF()
      val dir = graft.TestDirs.create("graft-wet").toString
      val n = graft.pipeline.WetExport.write(spark, extracted, dir)
      assert(n == extracted.count())
      // read every emitted segment back through the WARC reader
      val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.wet.gz"))
      assert(files.nonEmpty)
      val back = files.flatMap { f =>
        WarcReader.records(new java.io.FileInputStream(f)).map(r =>
          (r.targetUri, new String(r.body, UTF_8))).toList
      }.toMap
      assert(back.size == n)
      val expect = extracted.selectExpr("url", "extracted_text")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(back == expect, "every WET body must equal its extracted text byte-for-byte")
      // conversion records carry no HTTP message: status stays -1
      val one = WarcReader.records(new java.io.FileInputStream(files.head)).next()
      assert(one.warcType == "conversion" && one.httpStatus == -1)

      // WET INGESTION: the conversion records come back as empty-payload
      // Pages whose `text` carries the precomputed extraction, and the
      // S4 fallback flows them through the SAME extract pipeline — the
      // re-extracted text must equal the original extraction exactly
      val wetPages = graft.pipeline.WarcSource.readWetPages(spark, s"$dir/part-*")
      assert(wetPages.count() == n)
      val reextracted = graft.pipeline.ExtractStage.run(wetPages)
        .toDF().selectExpr("url", "extracted_text")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(reextracted == expect,
        "WET-ingested pages must re-extract to the identical text via the fallback path")
    } finally spark.stop()
  }

  test("curated WET release: scrubbed kept corpus → WET, no raw PII, time-travel reproducible") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").appName("wet-release-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import graft.pipeline.{CuratedPipeline, ExtractStage, RunRelease, WetExport, Page}
      import graft.core.rules.PiiScrubber
      import spark.implicits._
      // plant PII into ~1/4 of the pages' main content so the no-leak
      // gate proves redaction, not absence
      val pages = ExtractStage.generatePages(spark, 400, partitions = 8).map { p =>
        if (p.html != null && math.floorMod(p.url.hashCode, 4) == 0) {
          val s = new String(p.html, UTF_8)
          val pii = s"<p>please contact agent${math.floorMod(p.url.hashCode, 97)}@example.com " +
            s"about the server at 10.0.0.${math.floorMod(p.url.hashCode, 250)} before the close of business</p>"
          Page(p.url, p.warc_ts, s.replaceFirst("</body>",
            java.util.regex.Matcher.quoteReplacement(pii + "</body>")).getBytes(UTF_8),
            p.text, p.lang)
        } else p
      }
      val out = graft.TestDirs.create("graft-wet-rel").toString
      CuratedPipeline.runFromPages(spark, pages, out,
        numBuckets = 8, snapshotGroups = 2, runId = "rel", scrubPii = true)
      val curated = s"$out/curated"
      val keptN = CuratedPipeline.readKept(spark, curated).count()

      // the release artifact is cut from the KEPT corpus (scrub applied
      // pre-dedup), not from the extract table
      val relDir = graft.TestDirs.create("graft-wet-rel-out").toString
      val n = WetExport.writeRelease(spark, curated, relDir)
      assert(n == keptN && n > 0)
      val files = new java.io.File(relDir).listFiles()
        .filter(_.getName.endsWith(".warc.wet.gz"))
      val bodies = files.flatMap { f =>
        WarcReader.records(new java.io.FileInputStream(f))
          .map(r => (r.targetUri, new String(r.body, UTF_8))).toList
      }
      assert(bodies.length.toLong == n)
      // the raw extract table DOES contain plantable PII on this corpus;
      // the released bodies contain none (typed tokens only)
      val rawPii = graft.pipeline.ExtractPipeline.readOutput(spark, s"$out/extract")
        .filter(org.apache.spark.sql.functions.col("extracted_text")
          .rlike(PiiScrubber.EmailPattern)).count()
      assert(rawPii > 0, "generator corpus must plant PII for this test to prove anything")
      val leaked = bodies.count { case (_, t) =>
        t.matches(s"(?s).*${PiiScrubber.EmailPattern}.*") ||
          t.matches(s"(?s).*${PiiScrubber.Ipv4Pattern}.*") }
      assert(leaked == 0, s"released WET must carry no raw PII, found $leaked")
      // release text ≡ kept text byte-for-byte
      val keptMap = CuratedPipeline.readKept(spark, curated)
        .selectExpr("url", "extracted_text").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(bodies.toMap == keptMap)

      // the manifest (release.json, the commit point) verifies the mirror:
      // per-file record counts, byte sizes, task-computed SHA-1s — all
      // recomputed here independently from the files on disk
      import spark.implicits._
      val mJson = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$relDir/release.json")), UTF_8)
      val m = spark.read.json(Seq(mJson).toDS())
      assert(m.selectExpr("records").head().getLong(0) == n)
      assert(m.selectExpr("as_of_increment").head().isNullAt(0))
      val entries = m.selectExpr("explode(files) AS f")
        .selectExpr("f.file", "f.records", "f.bytes", "f.sha1").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(entries.keySet == files.map(_.getName).toSet)
      files.foreach { f =>
        val (recs, bytes, sha1) = entries(f.getName)
        assert(bytes == f.length)
        assert(recs == WarcReader.records(new java.io.FileInputStream(f)).length.toLong)
        val md = java.security.MessageDigest.getInstance("SHA-1")
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
        assert(sha1 == md.digest().map(b => f"$b%02x").mkString)
      }

      // time travel composes: a release cut AS OF the base increment is
      // byte-identical before and after a later increment lands
      val rel0a = graft.TestDirs.create("graft-wet-rel0a").toString
      WetExport.writeRelease(spark, curated, rel0a, asOfIncrement = Some(0L))
      val morePages = ExtractStage.generatePages(spark, 500, partitions = 8)
        .filter(_.url.hashCode % 3 == 0)
      // the increment's rows pass the base build's own gate (scrubPii
      // only), so they enter the kept table in the same released shape
      RunRelease.increment(spark, morePages, out, numBuckets = 8,
        runId = "rel2", gopherGate = false, scrubPii = true)
      val rel0b = graft.TestDirs.create("graft-wet-rel0b").toString
      WetExport.writeRelease(spark, curated, rel0b, asOfIncrement = Some(0L))
      def wetTexts(d: String) = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".warc.wet.gz")).flatMap { f =>
          WarcReader.records(new java.io.FileInputStream(f))
            .map(r => (r.targetUri, new String(r.body, UTF_8))).toList
        }.sortBy(_._1).toSeq
      assert(wetTexts(rel0a) == wetTexts(rel0b),
        "an as-of release must be reproducible after later increments")
      // and the HEAD release now includes the increment's kept rows
      val relHead = graft.TestDirs.create("graft-wet-relh").toString
      assert(WetExport.writeRelease(spark, curated, relHead) >= n)
    } finally spark.stop()
  }

  test("revisit dedup cycle: duplicate payloads → revisit stubs, smaller archive, lossless resolve") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").appName("warc-revisit-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import graft.pipeline.{CdxIndex, ExtractStage, Page, WarcDedup, WarcWriter}
      // ~1/3 of the corpus re-captures another page's exact payload at a
      // LATER timestamp (and a different url) — the identical-payload case
      // revisit records exist for
      val base = ExtractStage.generatePages(spark, 150, partitions = 8).collect().toSeq
      val pages = base.zipWithIndex.map { case (p, i) =>
        if (i % 3 == 2) {
          val src = base(i - 1)
          Page(p.url, new java.sql.Timestamp(src.warc_ts.getTime + 86400000L),
            src.html, p.text, p.lang)
        } else p
      }
      val ds = spark.createDataset(pages)(org.apache.spark.sql.Encoders.product[Page])
        .repartition(4)

      val plainDir = graft.TestDirs.create("graft-warc-plain").toString
      val dedupDir = graft.TestDirs.create("graft-warc-dedup").toString
      WarcWriter.write(spark, ds, plainDir)
      val stats = WarcDedup.writeDeduped(spark, ds, dedupDir)
      assert(stats.responses + stats.revisits == pages.length.toLong)
      assert(stats.revisits >= pages.length / 4, "planted duplicates must become revisits")

      def dirBytes(d: String) = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".warc.gz")).map(_.length).sum
      assert(dirBytes(dedupDir) < dirBytes(plainDir),
        "dedup is a storage property: the archive must shrink")

      // header fidelity: every revisit carries the netpreserve profile +
      // digest + refers pointers, and its digest equals the digest the CDX
      // layer would compute for the payload it references
      val recs = new java.io.File(dedupDir).listFiles()
        .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName).flatMap { f =>
          WarcReader.records(new java.io.FileInputStream(f)).toList
        }
      val responses = recs.filter(_.warcType == "response")
      val revisits = recs.filter(_.warcType == "revisit")
      assert(responses.length.toLong == stats.responses)
      assert(revisits.length.toLong == stats.revisits)
      assert(responses.forall(r => r.payloadDigest == "sha1:" + CdxIndex.sha1Base32(r.body)))
      val respByKey = responses.map(r => ((r.targetUri, r.date), r)).toMap
      revisits.foreach { rv =>
        assert(rv.payloadDigest.startsWith("sha1:") && rv.refersToUri.nonEmpty && rv.refersToDate.nonEmpty)
        val ref = respByKey((rv.refersToUri, rv.refersToDate))
        assert(ref.payloadDigest == rv.payloadDigest,
          "a revisit must reference a capture with its exact digest")
      }

      // resolution is lossless: the full page set comes back, bodies intact
      val resolved = WarcDedup.readResolvedPages(spark, s"$dedupDir/*.warc.gz").collect()
      def key(url: String, ts: java.sql.Timestamp, html: Array[Byte]) =
        (url, ts.getTime, CdxIndex.sha1Base32(if (html == null) Array.empty[Byte] else html))
      assert(resolved.map(p => key(p.url, p.warc_ts, p.html)).sorted.toSeq ==
        pages.map(p => key(p.url, p.warc_ts, p.html)).sorted.toSeq)
    } finally spark.stop()
  }

  test("HTTP transfer decodings: chunked framing, gzip and deflate bodies, tolerant fallback") {
    def resp(headers: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\n$headers\r\n\r\n").getBytes(ISO_8859_1) ++ body
    def rec(body: Array[Byte]): WarcRecord =
      WarcReader.records(new java.io.ByteArrayInputStream(
        warcRecord("response", "https://ex.com/t", "2025-06-01T00:00:00Z", body))).next()

    // chunked: sizes in hex with an extension, terminal 0-chunk + trailer
    val chunked = "7;ext=1\r\n<html><\r\n10\r\nbody>chunky text\r\n7\r\n</body>\r\n0\r\nX-Trailer: t\r\n\r\n"
      .getBytes(ISO_8859_1)
    val c = rec(resp("Content-Type: text/html\r\nTransfer-Encoding: chunked", chunked))
    assert(new String(c.body, ISO_8859_1) == "<html><body>chunky text</body>")

    // gzip content-encoding
    val raw = "<html><body>gzipped page body</body></html>".getBytes(UTF_8)
    val gzBody = { val o = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(o); g.write(raw); g.finish(); o.toByteArray }
    val g = rec(resp("Content-Type: text/html\r\nContent-Encoding: gzip", gzBody))
    assert(g.body.sameElements(raw))

    // zlib-wrapped deflate
    val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
    val defBody = { val buf = new java.io.ByteArrayOutputStream(); val t = new Array[Byte](1024)
      while (!d.finished()) { val k = d.deflate(t); buf.write(t, 0, k) }; d.end(); buf.toByteArray }
    val z = rec(resp("Content-Type: text/html\r\nContent-Encoding: deflate", defBody))
    assert(z.body.sameElements(raw))

    // chunked + gzip stack (transfer first, then content decoding)
    val chunkedGz = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(f"${gzBody.length}%x\r\n".getBytes(ISO_8859_1)); o.write(gzBody)
      o.write("\r\n0\r\n\r\n".getBytes(ISO_8859_1)); o.toByteArray
    }
    val cg = rec(resp("Transfer-Encoding: chunked\r\nContent-Encoding: gzip", chunkedGz))
    assert(cg.body.sameElements(raw))

    // broken gzip: keep the raw bytes rather than losing the record
    val broken = rec(resp("Content-Encoding: gzip", "not actually gzip".getBytes(UTF_8)))
    assert(new String(broken.body, UTF_8) == "not actually gzip")
  }

  test("WARC round-trip: Dataset[Page] → WarcWriter → WarcSource, payloads byte-identical") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("warcw-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      // the generator corpus covers HTML, PDFs, invalid-UTF-8, and EMPTY
      // payloads — all must survive the crawl format byte-for-byte
      val pages = graft.pipeline.ExtractStage.generatePages(spark, 64, partitions = 3)
      val dir = graft.TestDirs.create("graft-warcw").toString
      val n = graft.pipeline.WarcWriter.write(spark, pages, dir)
      assert(n == 64)
      val back = graft.pipeline.WarcSource.readPages(spark, s"$dir/part-*")
        .collect().map(p => p.url -> p).toMap
      assert(back.size == 64)
      pages.collect().foreach { p =>
        val b = back(p.url)
        assert(b.html.sameElements(p.html), s"payload drift for ${p.url}")
        assert(b.warc_ts == p.warc_ts, s"timestamp drift for ${p.url}")
      }
    } finally spark.stop()
  }

  test("continuous crawl ingestion: streamed WARC segments → exactly-once committed table") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("warc-stream-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val landing = graft.TestDirs.create("graft-warc-landing")
      val out = graft.TestDirs.create("graft-warc-table").toString
      def seg(urls: Seq[String]): Array[Byte] = gzipPerRecord(urls.map(u =>
        warcRecord("response", u, "2025-06-02T00:00:00Z", httpResponse(200, "text/html", html1))))
      // first segment lands before the stream starts
      java.nio.file.Files.write(landing.resolve("seg-0.warc.gz"), seg(Seq("https://s.com/a", "https://s.com/b")))

      val pages = graft.pipeline.WarcSource.readPagesStream(spark, landing.toString)
      val q = pages.writeStream
        .option("checkpointLocation", graft.TestDirs.create("graft-warc-ck").toString)
        .foreachBatch((ds: org.apache.spark.sql.Dataset[graft.pipeline.Page], id: Long) =>
          graft.pipeline.StreamingIngest.commitBatch(out, numBuckets = 8)(ds, id))
        .start()
      q.processAllAvailable()
      // a second segment arrives while the stream runs → new micro-batch
      java.nio.file.Files.write(landing.resolve("seg-1.warc.gz"), seg(Seq("https://s.com/c")))
      q.processAllAvailable()
      q.stop()

      val table = graft.pipeline.StreamingIngest.readAll(spark, out)
      import spark.implicits._
      assert(table.select($"url").as[String].collect().sorted.toSeq ==
        Seq("https://s.com/a", "https://s.com/b", "https://s.com/c"))
      // two distinct committed micro-batches, every row extracted
      assert(table.select($"ingest_batch").distinct().count() == 2)
      assert(table.filter($"success").count() == 3)
    } finally spark.stop()
  }

  test("one malformed header resyncs to the next record instead of dropping the rest") {
    // record 2 of 4 carries a non-numeric Content-Length: the reader must
    // skip IT, not end iteration — a 1 GB segment with one corrupt header
    // should still yield every other record (ADVICE r3)
    val good1 = warcRecord("response", "https://ex.com/ok1", "2025-06-01T01:00:00Z",
      httpResponse(200, "text/html", html1))
    val badHeader =
      ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ex.com/bad\r\n" +
        "WARC-Date: 2025-06-01T01:30:00Z\r\nContent-Type: application/http; msgtype=response\r\n" +
        "Content-Length: oops\r\n\r\n").getBytes(ISO_8859_1) ++
        httpResponse(200, "text/html", "<html>bad</html>".getBytes(UTF_8)) ++
        "\r\n\r\n".getBytes(ISO_8859_1)
    val good2 = warcRecord("response", "https://ex.com/ok2", "2025-06-01T02:00:00Z",
      httpResponse(200, "text/html", html2))
    val seg = good1 ++ badHeader ++ good2
    val recs = WarcReader.records(new java.io.ByteArrayInputStream(seg)).toList
    // the resync scans line-wise for "WARC/": the bad record is consumed,
    // both good records (before AND after it) survive
    assert(recs.map(_.targetUri).contains("https://ex.com/ok1"))
    assert(recs.map(_.targetUri).contains("https://ex.com/ok2"))
    assert(recs.count(_.targetUri == "https://ex.com/bad") == 0)
  }

  test("next() past exhaustion throws NoSuchElementException") {
    val it = WarcReader.records(new java.io.ByteArrayInputStream(segment()))
    while (it.hasNext) it.next()
    intercept[NoSuchElementException] { it.next() }
    // and on an empty stream too
    val empty = WarcReader.records(new java.io.ByteArrayInputStream(Array.empty[Byte]))
    assert(!empty.hasNext)
    intercept[NoSuchElementException] { empty.next() }
  }

  test("WARC-Date parsing: ISO-8601 ok, garbage → epoch") {
    assert(graft.pipeline.WarcSource.parseWarcDate("2025-06-01T12:34:56Z").getTime ==
      java.time.Instant.parse("2025-06-01T12:34:56Z").toEpochMilli)
    assert(graft.pipeline.WarcSource.parseWarcDate("not-a-date").getTime == 0L)
  }
}
