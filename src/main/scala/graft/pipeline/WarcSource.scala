package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.hadoop.fs.Path
import org.apache.spark.util.SerializableConfiguration
import graft.core.warc.WarcReader

/** Common-Crawl-style ingestion: WARC segment files → `Dataset[Page]` (the
  * driver-contract input shape), feeding the same extract pipeline as any
  * parquet-backed corpus.
  *
  * Scale shape: ONE task per segment file, streaming. A crawl segment is
  * ~1 GB of per-record gzip members; materializing whole files (the
  * `binaryFile` source's row shape) would put gigabyte blobs in rows, so
  * instead the file LIST is parallelized and each task opens its file via
  * the Hadoop filesystem and streams records through [[WarcReader]] —
  * O(record) memory regardless of segment size. At 100 TB that is ~10⁵
  * files spread across executors; skew is bounded because segments are
  * near-uniform by construction (the crawler rotates them at a size
  * threshold).
  */
object WarcSource {

  /** Expand a glob into segment paths (driver-side listing, like any
    * FileIndex) and stream every HTTP-200 `response` record into a Page.
    * `text`/`lang` stay empty — they are extraction OUTPUTS here, not
    * crawl inputs.
    */
  def readPages(spark: SparkSession, glob: String): Dataset[Page] =
    readViaTasks(spark, glob) { r =>
      if (r.warcType == "response" && r.httpStatus == 200)
        Some(Page(r.targetUri, parseWarcDate(r.date), r.body, "", ""))
      else None
    }(org.apache.spark.sql.Encoders.product[Page])

  /** WET ingestion — the other half of the CC interchange: `conversion`
    * records (precomputed extracted text, [[WetExport]]'s output or CC's
    * own .wet.gz files) become Pages with an EMPTY payload and the text
    * in the `text` column, so the S4 fallback path flows them through
    * the SAME pipeline (extract of an empty payload falls back to
    * `text`) — a WET consumer and an HTML crawler share every operator
    * downstream of the source.
    */
  def readWetPages(spark: SparkSession, glob: String): Dataset[Page] =
    readViaTasks(spark, glob) { r =>
      if (r.warcType == "conversion")
        Some(Page(r.targetUri, parseWarcDate(r.date), Array.empty[Byte],
          new String(r.body, java.nio.charset.StandardCharsets.UTF_8), ""))
      else None
    }(org.apache.spark.sql.Encoders.product[Page])

  /** Raw record-level ingestion: every WARC record with its dedup headers
    * (`WARC-Payload-Digest`, `WARC-Refers-To-*`) intact — the reader
    * [[WarcDedup.readResolvedPages]] needs to rehydrate revisit records
    * from the captures they reference.
    */
  def readRecords(spark: SparkSession, glob: String): Dataset[graft.core.warc.WarcRecord] = {
    import spark.implicits._
    readViaTasks(spark, glob)(Some(_))
  }

  /** One streaming task per matched segment file, O(record) memory —
    * shared by the response (WARC), conversion (WET) and raw-record
    * readers.
    */
  private def readViaTasks[T: org.apache.spark.sql.Encoder](spark: SparkSession, glob: String)(
      convert: graft.core.warc.WarcRecord => Option[T]): Dataset[T] = {
    import spark.implicits._
    val p = new Path(glob)
    // session Hadoop conf, not `new Configuration()`: the driver listing and
    // every executor-side open must honor spark.hadoop.* (S3A credentials,
    // endpoints) exactly like the built-in sources do
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val confBc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val files = Option(fs.globStatus(p)).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath.toString).toSeq.sorted
    val paths = spark.createDataset(files).repartition(math.max(1, files.size))
    paths.mapPartitions { it =>
      it.flatMap { pathStr =>
        val path = new Path(pathStr)
        val in = path.getFileSystem(confBc.value.value).open(path)
        // covers abandoned iterators (downstream limit) and mid-segment
        // throws — closeWhenDone alone only closes the drained path
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ =>
            try in.close() catch { case scala.util.control.NonFatal(_) => () }))
        val recs = WarcReader.records(in).flatMap(convert(_))
        closeWhenDone(recs, in)
      }
    }
  }

  /** Continuous crawl ingestion: a Structured Streaming source over a
    * landing directory — each NEW segment file becomes one row of the
    * `binaryFile` stream, whose HTTP-200 `response` records become Pages
    * in the same micro-batch.
    * Pair with `StreamingIngest.commitBatch` in `foreachBatch` for
    * exactly-once commits into the partitioned table (tested end-to-end
    * in `WarcSpec`). Scale note: `binaryFile` materializes each segment
    * as one row, so size streamed segments to executor memory (CC's ~1 GB
    * segments fit); the batch path (`readPages`) streams with O(record)
    * memory and remains the bulk-backfill tool.
    */
  def readPagesStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): Dataset[Page] = {
    import spark.implicits._
    val reader = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
    maxFilesPerTrigger.foreach(k => reader.option("maxFilesPerTrigger", k.toString))
    reader.load(dir)
      .select("content").as[Array[Byte]]
      .flatMap { bytes =>
        WarcReader.records(new java.io.ByteArrayInputStream(bytes))
          .filter(r => r.warcType == "response" && r.httpStatus == 200)
          .map(r => Page(r.targetUri, parseWarcDate(r.date), r.body, "", ""))
      }
  }

  /** WARC-Date is ISO-8601 (e.g. 2025-06-01T12:00:00Z); unparseable dates
    * map to epoch rather than killing the segment.
    */
  private[graft] def parseWarcDate(s: String): java.sql.Timestamp =
    try java.sql.Timestamp.from(java.time.Instant.parse(s))
    catch { case scala.util.control.NonFatal(_) => new java.sql.Timestamp(0L) }

  /** Close the stream when the record iterator is exhausted OR throws;
    * the task-completion listener registered at open covers the
    * abandoned-iterator case (downstream limit/take).
    */
  private def closeWhenDone[T](it: Iterator[T], in: java.io.Closeable): Iterator[T] =
    new Iterator[T] {
      private var closed = false
      private def closeQuietly(): Unit =
        if (!closed) { closed = true
          try in.close() catch { case scala.util.control.NonFatal(_) => () } }
      def hasNext: Boolean = {
        val h = try it.hasNext catch { case e: Throwable => closeQuietly(); throw e }
        if (!h) closeQuietly()
        h
      }
      def next(): T =
        try it.next() catch { case e: Throwable => closeQuietly(); throw e }
    }
}
