package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets.ISO_8859_1
import org.apache.spark.util.SerializableConfiguration
import graft.core.warc.GzipMemberWriter

/** Crawl-storage dedup via WARC `revisit` records (ISO 28500 §6.7.2, the
  * netpreserve identical-payload-digest profile — the mechanism Common
  * Crawl and every IIPC crawler use so a page captured unchanged twice is
  * stored once): the FIRST capture of each payload digest is written as a
  * full `response` record; every later capture of the same digest becomes
  * a `revisit` record carrying only the HTTP headers plus
  * `WARC-Refers-To-Target-URI`/`WARC-Refers-To-Date` pointers at the
  * stored capture. Ingestion rehydrates revisits by joining them back to
  * the captures they reference, so the pipeline downstream of the source
  * sees the full page set — dedup is a STORAGE property, not a data loss.
  *
  * Digests are SHA-1/Base32 via [[CdxIndex.sha1Base32]] — the same
  * function that fills the CDX `digest` column, so `WARC-Payload-Digest`
  * and the index agree byte-for-byte and a CDX scan can count revisit
  * savings without opening a single segment.
  *
  * Scale shape: the first-capture decision is ONE hash aggregation keyed
  * by digest over a thin (url, ts, digest) projection — the page bodies
  * are digested in a narrow codegen'd pass (`sha1(html)`) and never
  * shuffled for the decision; the decision table joins back on `url`, the
  * corpus's natural (bucketed) key. Rehydration at read time is one
  * equi-join keyed by the referred (url, date) capture identity.
  */
object WarcDedup {

  /** The revisit decision: for every page, is it the first capture of its
    * payload digest (min by (warc_ts, url) — the url tie-break makes the
    * choice deterministic when two captures share a timestamp), and if
    * not, which capture does it refer to. Returns the input columns plus
    * `__digest` (hex sha1), `is_revisit`, `refers_to_url`, `refers_to_ts`.
    *
    * Shuffle discipline: the digest-keyed aggregation AND the
    * firsts-join both run over the THIN (url, ts, digest) projection —
    * at archive scale `firsts` is digest-cardinality (≈ corpus-sized,
    * NOT broadcastable), so joining the full rows on digest would
    * shuffle every page body. Bodies instead join the finished decision
    * table on (url, warc_ts) — the corpus's natural key, co-located
    * under a bucket(url) layout, and the only join a body row ever pays.
    */
  def classify(pages: Dataset[_]): DataFrame = {
    val keyed = pages.toDF()
      .withColumn("__digest", sha1(coalesce(col("html"), lit(Array.emptyByteArray))))
    // r6: the thin projection is pinned — the digest aggregation and the
    // decision join both read it, and without the pin each re-ran the
    // sha1-over-bodies pass; pinning the THIN rows (never the bodies)
    // keeps this safe at archive scale
    val thin = keyed.select(col("__digest"), col("warc_ts"), col("url"))
      .transform(Pin(_))
    val firsts = thin
      .groupBy(col("__digest"))
      .agg(min(struct(col("warc_ts"), col("url"))).as("__f"))
      .select(col("__digest").as("__fd"), col("__f.url").as("refers_to_url"),
        col("__f.warc_ts").as("refers_to_ts"))
    // thin × thin on digest → per-(url, ts) decision rows
    val decisions = thin.join(firsts, col("__digest") === col("__fd"))
      .select(col("url"), col("warc_ts"),
        col("refers_to_url"), col("refers_to_ts"),
        (!(col("url") === col("refers_to_url") &&
          col("warc_ts") === col("refers_to_ts"))).as("is_revisit"))
      .distinct() // an exact re-capture (same url+ts+payload) decides once
    keyed.join(decisions, Seq("url", "warc_ts"))
  }

  /** @return (response records written, revisit records written) */
  final case class DedupWriteStats(responses: Long, revisits: Long)

  /** Write pages as a DEDUPED Common-Crawl-layout archive: one gzip member
    * per record, first captures as HTTP-200 responses (now carrying
    * `WARC-Payload-Digest`), duplicate payloads as revisit stubs. The
    * inverse is [[readResolvedPages]]; WarcSpec proves
    * `readResolvedPages ∘ writeDeduped ≡ identity` on the page set and
    * that the deduped archive is strictly smaller than [[WarcWriter.write]]
    * on a corpus with duplicate payloads.
    */
  def writeDeduped(spark: SparkSession, pages: Dataset[Page], dir: String): DedupWriteStats = {
    val confBc = spark.sparkContext.broadcast(
      new SerializableConfiguration(LocalFs.hadoopConf(spark)))
    val rows = classify(pages).select(
      col("url"), col("warc_ts"), col("html"), col("is_revisit"),
      col("refers_to_url"), col("refers_to_ts"))
    val counts = rows.rdd.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val path = new Path(f"$dir/part-$pid%05d.warc.gz")
      val fs = path.getFileSystem(confBc.value.value)
      var nResp = 0L
      var nRev = 0L
      val out = fs.create(path, true)
      val gz = new GzipMemberWriter(out) // ONE reused Deflater per file
      try {
        it.foreach { r =>
          val url = r.getString(0)
          val iso = r.getTimestamp(1).toInstant.toString
          val body = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
          val digest = "sha1:" + CdxIndex.sha1Base32(body)
          val isRevisit = r.getBoolean(3)
          if (!isRevisit) {
            val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
              s"Content-Length: ${body.length}\r\n\r\n").getBytes(ISO_8859_1)
            val header =
              "WARC/1.0\r\n" +
                "WARC-Type: response\r\n" +
                s"WARC-Target-URI: $url\r\n" +
                s"WARC-Date: $iso\r\n" +
                s"WARC-Record-ID: <urn:graft:warc:$pid:${nResp + nRev}>\r\n" +
                s"WARC-Payload-Digest: $digest\r\n" +
                "Content-Type: application/http; msgtype=response\r\n" +
                s"Content-Length: ${http.length + body.length}\r\n\r\n"
            gz.writeMember(header.getBytes(ISO_8859_1), http, body,
              "\r\n\r\n".getBytes(ISO_8859_1))
            nResp += 1
          } else {
            // the stub keeps the HTTP headers (crawl metadata) but NOT the
            // entity — that is the entire storage saving
            val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
              s"Content-Length: ${body.length}\r\n\r\n").getBytes(ISO_8859_1)
            val header =
              "WARC/1.0\r\n" +
                "WARC-Type: revisit\r\n" +
                s"WARC-Target-URI: $url\r\n" +
                s"WARC-Date: $iso\r\n" +
                s"WARC-Record-ID: <urn:graft:warc:$pid:${nResp + nRev}>\r\n" +
                "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest\r\n" +
                s"WARC-Payload-Digest: $digest\r\n" +
                s"WARC-Refers-To-Target-URI: ${r.getString(4)}\r\n" +
                s"WARC-Refers-To-Date: ${r.getTimestamp(5).toInstant.toString}\r\n" +
                "Content-Type: application/http; msgtype=response\r\n" +
                s"Content-Length: ${http.length}\r\n\r\n"
            gz.writeMember(header.getBytes(ISO_8859_1), http,
              "\r\n\r\n".getBytes(ISO_8859_1))
            nRev += 1
          }
        }
      } finally {
        gz.close()
        out.close()
      }
      Iterator.single((nResp, nRev))
    }.collect()
    DedupWriteStats(counts.map(_._1).sum, counts.map(_._2).sum)
  }

  /** Ingest a deduped archive back to the FULL page set: response records
    * become pages directly; revisit records join to the capture they
    * reference — on (WARC-Refers-To-Target-URI, WARC-Refers-To-Date) —
    * and inherit its payload. A revisit whose referent is missing from
    * the glob (a partial copy of a multi-segment archive) is dropped
    * rather than invented; the digest recorded on the revisit must match
    * the referent's (enforced in the join), so a corrupted pointer cannot
    * silently attach the wrong body.
    */
  def readResolvedPages(spark: SparkSession, glob: String): Dataset[Page] = {
    import spark.implicits._
    val recs = WarcSource.readRecords(spark, glob)
    val responses = recs.filter(r => r.warcType == "response" && r.httpStatus == 200)
      .map(r => (r.targetUri, r.date, r.payloadDigest, r.body))
      .toDF("url", "date", "digest", "html")
    val revisits = recs.filter(_.warcType == "revisit")
      .map(r => (r.targetUri, r.date, r.payloadDigest, r.refersToUri, r.refersToDate))
      .toDF("url", "date", "digest", "ref_url", "ref_date")
    val direct = responses.select(col("url"), col("date"), col("html"))
    val rehydrated = revisits.join(
        responses.select(col("url").as("ref_url"), col("date").as("ref_date"),
          col("digest"), col("html")),
        Seq("ref_url", "ref_date", "digest"))
      .select(col("url"), col("date"), col("html"))
    direct.unionByName(rehydrated)
      .select(col("url"), col("date"), col("html"))
      .map { r =>
        Page(r.getString(0), WarcSource.parseWarcDate(r.getString(1)),
          r.getAs[Array[Byte]](2), "", "")
      }(org.apache.spark.sql.Encoders.product[Page])
  }
}
