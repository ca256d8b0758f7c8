package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.apache.spark.util.SerializableConfiguration
import graft.core.warc.GzipMemberWriter

/** WET-style export: the extracted-text twin of [[WarcSource]]. Common
  * Crawl distributes extraction output as WARC `conversion` records (the
  * .wet.gz files); emitting the same shape means downstream consumers of
  * CC WET data can consume this engine's output unchanged.
  *
  * Scale shape: one .warc.wet.gz file per partition, written by the task
  * itself through the Hadoop filesystem (same pattern every columnar sink
  * uses); records stream out one by one, O(record) memory. Per-record
  * gzip members, so the files are splittable the same way CC's are —
  * [[graft.core.warc.WarcReader]] reads them back for the round-trip
  * gate.
  */
object WetExport {

  /** Per-segment accounting for the release manifest: file name, record
    * count, compressed bytes, SHA-1 of the file's bytes — computed by the
    * WRITING task as the bytes stream out (no second read of the
    * segment), the way CC's segment checksum lists are cut.
    */
  final case class WetFileStat(file: String, records: Long, bytes: Long, sha1: String)

  /** Write `df` (needs `url`, `warc_ts`, `extracted_text` columns) as WET
    * segment files under `dir`. Returns the number of records written.
    */
  def write(spark: SparkSession, df: DataFrame, dir: String): Long =
    writeWithStats(spark, df, dir).map(_.records).sum

  /** [[write]], returning per-segment stats for manifest cuts. */
  def writeWithStats(spark: SparkSession, df: DataFrame, dir: String): Seq[WetFileStat] = {
    import spark.implicits._
    val slim = df.selectExpr("url", "cast(warc_ts AS string) AS ts", "extracted_text")
      .as[(String, String, String)]
    val confBc = spark.sparkContext.broadcast(
      new SerializableConfiguration(LocalFs.hadoopConf(spark)))
    val stats = slim.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val path = new Path(f"$dir/part-$pid%05d.warc.wet.gz")
      // session Hadoop conf (broadcast), and ONE reused Deflater per task —
      // same fixes as WarcWriter (credentials honored, no per-record native
      // Deflater leak)
      val fs = path.getFileSystem(confBc.value.value)
      var n = 0L
      val md = java.security.MessageDigest.getInstance("SHA-1")
      val out = new java.security.DigestOutputStream(fs.create(path, true), md)
      val gz = new GzipMemberWriter(out)
      try {
        it.foreach { case (url, ts, text) =>
          val body = (if (text == null) "" else text).getBytes(UTF_8)
          // WARC-Date is ISO-8601; the column is "yyyy-MM-dd HH:mm:ss[.f]" UTC
          val iso = ts.replace(' ', 'T').takeWhile(_ != '.') + "Z"
          val header =
            "WARC/1.0\r\n" +
              "WARC-Type: conversion\r\n" +
              s"WARC-Target-URI: $url\r\n" +
              s"WARC-Date: $iso\r\n" +
              s"WARC-Record-ID: <urn:graft:wet:$pid:$n>\r\n" +
              "Content-Type: text/plain\r\n" +
              s"Content-Length: ${body.length}\r\n\r\n"
          gz.writeMember(header.getBytes(ISO_8859_1), body,
            "\r\n\r\n".getBytes(ISO_8859_1)) // one gzip member per record, like CC
          n += 1
        }
      } finally {
        gz.close()
        out.close()
      }
      val hex = md.digest().map(b => f"$b%02x").mkString
      Iterator.single(WetFileStat(path.getName, n, fs.getFileStatus(path).getLen, hex))
    }.collect()
    stats.toSeq.sortBy(_.file)
  }

  /** Cut a corpus RELEASE as WET segments from the CURATED kept table —
    * the artifact a training-data consumer actually downloads. Reads
    * through [[CuratedPipeline.readKept]], or [[CuratedPipeline.readKeptAsOf]]
    * when `asOfIncrement` is set, so a release stays byte-reproducible
    * after later increments land (kept rows + demotions both pinned to
    * the increment). The released text is the kept table's text column:
    * when the pipeline curated with `scrubPii = true`, that is the
    * REDACTED form — raw PII never reaches the released files (WarcSpec
    * proves it on a planted corpus).
    *
    * The release ships with a MANIFEST (`release.json`, written LAST —
    * the commit point): per-segment record counts, byte sizes, and
    * SHA-1 checksums computed by the writing tasks as the bytes
    * streamed out, plus the as-of increment — everything a consumer
    * needs to verify a mirror without opening a segment (CC's
    * `wet.paths` + checksum lists, as one artifact). A directory
    * without `release.json` is a torn release.
    *
    * @return records written
    */
  def writeRelease(spark: SparkSession, curatedDir: String, dir: String,
      asOfIncrement: Option[Long] = None, idCol: String = "id",
      textCol: String = "extracted_text"): Long = {
    val kept = asOfIncrement match {
      case Some(k) => CuratedPipeline.readKeptAsOf(spark, curatedDir, k, idCol)
      case None    => CuratedPipeline.readKept(spark, curatedDir, idCol)
    }
    // clean the target first: a re-cut with fewer partitions would
    // otherwise leave the previous attempt's tail segments on disk —
    // present to every *.warc.wet.gz glob, absent from the new manifest
    val dPath = new Path(dir)
    val dFs = dPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (dFs.exists(dPath)) dFs.delete(dPath, true)
    val stats = writeWithStats(spark, kept.withColumn("extracted_text", col(textCol)), dir)
    val files = stats.map(s =>
      s"""{"file": "${s.file}", "records": ${s.records}, "bytes": ${s.bytes}, "sha1": "${s.sha1}"}""")
    val manifest =
      s"""{"records": ${stats.map(_.records).sum}, "bytes": ${stats.map(_.bytes).sum}, """ +
        s""""as_of_increment": ${asOfIncrement.map(_.toString).getOrElse("null")}, """ +
        s""""files": [${files.mkString(", ")}]}"""
    val mPath = new Path(s"$dir/release.json")
    val fs = mPath.getFileSystem(LocalFs.hadoopConf(spark))
    val out = fs.create(mPath, true)
    try out.write(manifest.getBytes(UTF_8)) finally out.close()
    stats.map(_.records).sum
  }

  /** Order-independent digest of the WET records under `dir` (XOR of one
    * MurmurHash3 per record over its target URI and body), as upper-case
    * hex — what `RunRelease` prints to compare two cuts end to end.
    */
  def digest(dir: String): String = {
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.wet.gz"))
    val h = files.iterator.map { f =>
      val in = new java.io.FileInputStream(f)
      try graft.core.warc.WarcReader.records(in)
        .map(r => scala.util.hashing.MurmurHash3.stringHash(
          r.targetUri + "\u0000" + new String(r.body, UTF_8)).toLong)
        .foldLeft(0L)(_ ^ _)
      finally in.close()
    }.foldLeft(0L)(_ ^ _)
    java.lang.Long.toHexString(h).toUpperCase(java.util.Locale.ROOT)
  }
}
