package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import graft.core.warc.GzipMembers

class CdxSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("cdx-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ------------------------------------------------------------ SURT keys

  test("surt key: canonical pywb-style vectors") {
    assert(CdxIndex.surtKey("http://WWW.Example.COM:80/A/b?z=1&a=2#f") ==
      "com,example)/a/b?a=2&z=1")
    assert(CdxIndex.surtKey("https://sub.site.org/path") == "org,site,sub)/path")
    assert(CdxIndex.surtKey("https://host.io") == "io,host)/")
    assert(CdxIndex.surtKey("http://h.net:8080/x") == "net,h:8080)/x")
    assert(CdxIndex.surtKey("https://user@www.ex.com:443/q?b&a") == "com,ex)/q?a&b")
  }

  test("sha1 base32 digest matches the WARC-Payload-Digest convention") {
    assert(CdxIndex.sha1Base32(Array.empty[Byte]) == "3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ")
    assert(CdxIndex.sha1Base32("abc".getBytes(UTF_8)) == "VGMT4NSHA2AWVOR6EVYXQUGCNSONBWE5")
  }

  test("ts14 formats WARC-Date and survives junk") {
    assert(CdxIndex.ts14("2025-06-01T12:34:56Z") == "20250601123456")
    assert(CdxIndex.ts14("not-a-date") == "19700101000000")
  }

  // ----------------------------------------------------- member scanning

  /** A gzip member with optional FNAME/FEXTRA/FCOMMENT/FHCRC fields that
    * foreign writers emit (GZIPOutputStream never does).
    */
  private def memberWithHeaders(content: Array[Byte], fname: String = null,
      fextra: Array[Byte] = null, fcomment: String = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var flg = 0
    if (fextra != null) flg |= 4
    if (fname != null) flg |= 8
    if (fcomment != null) flg |= 16
    out.write(Array[Byte](0x1F, 0x8B.toByte, 8, flg.toByte, 0, 0, 0, 0, 0, 0xFF.toByte))
    if (fextra != null) {
      out.write(fextra.length & 0xFF); out.write((fextra.length >> 8) & 0xFF)
      out.write(fextra)
    }
    if (fname != null) { out.write(fname.getBytes(ISO_8859_1)); out.write(0) }
    if (fcomment != null) { out.write(fcomment.getBytes(ISO_8859_1)); out.write(0) }
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(content); d.finish()
    val buf = new Array[Byte](1 << 16)
    var n = d.deflate(buf)
    while (n > 0) { out.write(buf, 0, n); n = d.deflate(buf) }
    d.end()
    val crc = new java.util.zip.CRC32; crc.update(content)
    def le(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF); out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF) }
    le(crc.getValue.toInt); le(content.length)
    out.toByteArray
  }

  test("gzip member scan: offsets, lengths, content, foreign header fields") {
    val a = "first member content".getBytes(UTF_8)
    val b = ("second, longer member " + ("x" * 500)).getBytes(UTF_8)
    val c = "third".getBytes(UTF_8)
    val ma = memberWithHeaders(a, fname = "a.txt", fextra = Array[Byte](1, 2, 3, 4))
    val mb = memberWithHeaders(b, fcomment = "a comment")
    val mc = memberWithHeaders(c)
    val all = ma ++ mb ++ mc
    val got = GzipMembers.members(new java.io.ByteArrayInputStream(all)).toList
    assert(got.size == 3)
    assert(got(0).offset == 0 && got(0).compressedLength == ma.length)
    assert(got(1).offset == ma.length && got(1).compressedLength == mb.length)
    assert(got(2).offset == (ma.length + mb.length).toLong && got(2).compressedLength == mc.length)
    assert(got(0).bytes.sameElements(a) && got(1).bytes.sameElements(b) && got(2).bytes.sameElements(c))
  }

  test("gzip member scan: torn tail yields the good members") {
    val a = memberWithHeaders("good one".getBytes(UTF_8))
    val b = memberWithHeaders("good two".getBytes(UTF_8))
    val torn = a ++ b.dropRight(12) // truncated mid-trailer/deflate
    val got = GzipMembers.members(new java.io.ByteArrayInputStream(torn)).toList
    assert(got.size == 1 && got.head.bytes.sameElements("good one".getBytes(UTF_8)))
  }

  // ------------------------------------------------------------ end to end

  test("index a written corpus: count, sorted shards, cluster.idx, lookup, fetch") {
    import spark.implicits._
    val warcDir = graft.TestDirs.create("graft-cdx-warc").toString
    val idxDir = graft.TestDirs.create("graft-cdx-idx").toString
    val n = 300L
    val pages = spark.range(0L, n, 1L, 4).map(i => PageGen.page(PageGen.DefaultSeed, i))
    assert(WarcWriter.write(spark, pages, warcDir) == n)

    val total = CdxIndex.build(spark, s"$warcDir/part-*", idxDir, shards = 4)
    assert(total == n)

    // the full parsed index covers every url exactly once
    val df = CdxIndex.read(spark, idxDir)
    assert(df.count() == n)
    assert(df.select(countDistinct($"url")).as[Long].head() == n)

    // shards are sorted and cluster.idx first-keys are correct
    val cluster = scala.io.Source.fromFile(s"$idxDir/cluster.idx").getLines().toVector
      .filterNot(_.startsWith("#")) // #segment lines carry the indexed-file memory
      .map { l => val p = l.split('\t'); (p(0), p(1), p(2).toLong) }
    assert(cluster.map(_._3).sum == n)
    cluster.foreach { case (firstKey, shard, cnt) =>
      val keys = spark.read.text(s"$idxDir/$shard")
        .select(expr("split_part(value, ' ', 1)")).as[String].collect()
      assert(keys.length == cnt)
      assert(keys.head == firstKey)
      assert(keys.sameElements(keys.sorted), s"$shard not sorted")
    }
    // shard ranges are disjoint and ordered
    assert(cluster.map(_._1).sameElements(cluster.map(_._1).sorted))

    // point lookup prunes to one shard and finds the record; fetch returns
    // the byte-identical payload
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(0L, 7L, n - 1).foreach { i =>
      val p = PageGen.page(PageGen.DefaultSeed, i)
      val hit = CdxIndex.lookup(spark, idxDir, p.url)
        .select($"filename", $"offset", $"length", $"digest").collect()
      assert(hit.length == 1, s"lookup for ${p.url}")
      val r = hit.head
      val rec = CdxIndex.fetch(conf, r.getString(0), r.getLong(1), r.getLong(2))
      assert(rec.isDefined)
      val body = rec.get.body
      val expected = if (p.html == null) Array.empty[Byte] else p.html
      assert(body.sameElements(expected), s"payload drift for ${p.url}")
      assert(CdxIndex.sha1Base32(body) == r.getString(3))
    }

    // a url that was never crawled resolves to an empty result, not a scan
    assert(CdxIndex.lookup(spark, idxDir, "https://never.crawled.example/nope").count() == 0)
  }

  test("multi-capture url: both captures indexed, co-located, returned by lookup") {
    import spark.implicits._
    val warcDir = graft.TestDirs.create("graft-cdx-recap").toString
    val idxDir = graft.TestDirs.create("graft-cdx-recap-idx").toString
    // 60 distinct urls, plus url 5 captured a SECOND time (new ts, new body)
    val base = spark.range(0L, 60L, 1L, 2).map(i => PageGen.page(PageGen.DefaultSeed, i))
    val p5 = PageGen.page(PageGen.DefaultSeed, 5L)
    val recrawl = "<html><body>recrawl body</body></html>".getBytes("UTF-8")
    val recap = Seq(Page(p5.url,
      java.sql.Timestamp.valueOf("2025-07-01 00:00:00"), recrawl, "", "")).toDS()
    WarcWriter.write(spark, base.union(recap), warcDir)
    assert(CdxIndex.build(spark, s"$warcDir/part-*", idxDir, shards = 4) == 61L)

    // equal urlkeys co-locate (range partitioning is on urlkey alone), so
    // the one-shard-per-generation lookup sees BOTH captures
    val conf = spark.sparkContext.hadoopConfiguration
    val hits = CdxIndex.lookup(spark, idxDir, p5.url)
      .select($"ts", $"filename", $"offset", $"length").collect()
    assert(hits.length == 2, s"expected both captures, got ${hits.length}")
    assert(hits.map(_.getString(0)).distinct.length == 2, "distinct timestamps")
    val bodies = hits.map(r =>
      CdxIndex.fetch(conf, r.getString(1), r.getLong(2), r.getLong(3)).get.body.toSeq).toSet
    assert(bodies == Set(p5.html.toSeq, recrawl.toSeq))
  }

  test("incremental append: new generation only, idempotent, compaction folds") {
    import spark.implicits._
    val warcDir = graft.TestDirs.create("graft-cdx-inc").toString
    val idxDir = graft.TestDirs.create("graft-cdx-inc-idx").toString
    val glob = s"$warcDir/*/part-*"
    def pages(from: Long, until: Long) =
      spark.range(from, until, 1L, 2).map(i => PageGen.page(PageGen.DefaultSeed, i))

    WarcWriter.write(spark, pages(0L, 150L), s"$warcDir/day0")
    assert(CdxIndex.build(spark, glob, idxDir, shards = 2) == 150L)

    // a new day's segments land; append indexes ONLY them, as a new gen
    WarcWriter.write(spark, pages(150L, 250L), s"$warcDir/day1")
    assert(CdxIndex.append(spark, glob, idxDir, shards = 2) == 100L)
    assert(CdxIndex.append(spark, glob, idxDir, shards = 2) == 0L, "segment memory must prevent re-indexing")

    val state = CdxIndex.clusterState(spark, idxDir)
    assert(state.shards.map(s => CdxIndex.genOf(s._2)).distinct.sorted == Seq(0, 1))
    assert(CdxIndex.read(spark, idxDir).count() == 250L)

    // lookups span generations (one owner shard per gen); the stored
    // filename is the full segment path, so day0/day1 disambiguate even
    // though their part files share basenames
    val conf = spark.sparkContext.hadoopConfiguration
    def check(i: Long, day: String): Unit = {
      val p = PageGen.page(PageGen.DefaultSeed, i)
      val hit = CdxIndex.lookup(spark, idxDir, p.url)
        .select($"filename", $"offset", $"length").collect()
      assert(hit.length == 1, s"lookup for ${p.url}")
      assert(hit.head.getString(0).contains(s"/$day/"), s"wrong segment dir for ${p.url}")
      val rec = CdxIndex.fetch(conf, hit.head.getString(0),
        hit.head.getLong(1), hit.head.getLong(2))
      assert(rec.exists(_.body.sameElements(p.html)))
    }
    check(10L, "day0")
    check(200L, "day1")

    // major compaction: one generation, same answers, orphans deleted
    assert(CdxIndex.compactGenerations(spark, idxDir, shards = 2) == 250L)
    val compacted = CdxIndex.clusterState(spark, idxDir)
    assert(compacted.shards.map(s => CdxIndex.genOf(s._2)).distinct.size == 1)
    assert(compacted.segments == state.segments, "segment memory survives compaction")
    assert(CdxIndex.read(spark, idxDir).count() == 250L)
    check(10L, "day0")
    check(200L, "day1")
    // old generations' files are gone from disk
    state.shards.foreach { case (_, f, _) =>
      assert(!new java.io.File(s"$idxDir/$f").exists(), s"orphan $f survived compaction")
    }
    // still idempotent after compaction
    assert(CdxIndex.append(spark, glob, idxDir, shards = 2) == 0L)
  }
}
