package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets.ISO_8859_1
import org.apache.spark.util.SerializableConfiguration
import graft.core.warc.GzipMemberWriter

/** WARC export: materialize a `Dataset[Page]` as Common-Crawl-layout
  * response segments (`.warc.gz`, one per partition, per-record gzip
  * members). The inverse of [[WarcSource]] — together they make the
  * crawl format a first-class interchange surface: ingest CC segments,
  * or hand a partner back the exact format their crawler tooling speaks.
  * Fidelity gate: WarcSpec round-trips Page → WARC → Page.
  */
object WarcWriter {

  /** Write pages as HTTP-200 response records. Returns records written. */
  def write(spark: SparkSession, pages: Dataset[Page], dir: String): Long = {
    import spark.implicits._
    val confBc = spark.sparkContext.broadcast(
      new SerializableConfiguration(LocalFs.hadoopConf(spark)))
    val counts = pages.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val path = new Path(f"$dir/part-$pid%05d.warc.gz")
      // session Hadoop conf (broadcast): executor-side create honors
      // spark.hadoop.* the same as any built-in sink
      val fs = path.getFileSystem(confBc.value.value)
      var n = 0L
      val out = fs.create(path, true)
      // ONE reused Deflater for the whole file — a GZIPOutputStream per
      // record would allocate (and, finish()ed-but-unclosed, leak until GC)
      // one native Deflater per record
      val gz = new GzipMemberWriter(out)
      try {
        it.foreach { p =>
          val body = if (p.html == null) Array.empty[Byte] else p.html
          val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n").getBytes(ISO_8859_1)
          val iso = p.warc_ts.toInstant.toString
          val header =
            "WARC/1.0\r\n" +
              "WARC-Type: response\r\n" +
              s"WARC-Target-URI: ${p.url}\r\n" +
              s"WARC-Date: $iso\r\n" +
              s"WARC-Record-ID: <urn:graft:warc:$pid:$n>\r\n" +
              "Content-Type: application/http; msgtype=response\r\n" +
              s"Content-Length: ${http.length + body.length}\r\n\r\n"
          gz.writeMember(header.getBytes(ISO_8859_1), http, body,
            "\r\n\r\n".getBytes(ISO_8859_1)) // one member per record, CC layout
          n += 1
        }
      } finally {
        gz.close()
        out.close()
      }
      Iterator.single(n)
    }.collect()
    counts.sum
  }
}
