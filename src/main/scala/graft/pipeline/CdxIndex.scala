package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.util.SerializableConfiguration
import java.nio.charset.StandardCharsets.UTF_8
import graft.core.warc.{GzipMembers, WarcReader, WarcRecord}

/** One CDX line: the index entry that makes a WARC segment randomly
  * addressable. `(filename, offset, length)` locates the record's gzip
  * member; `urlkey` (SURT form) is the sort/search key; `digest` is the
  * payload SHA-1 (Base32) for dedup/integrity checks without re-reading
  * the segment.
  */
final case class CdxEntry(
    urlkey: String,
    ts: String, // 14-digit yyyyMMddHHmmss
    url: String,
    mime: String,
    status: Int,
    digest: String,
    offset: Long,
    length: Long,
    filename: String)

/** CDX(J) indexing over WARC segments — the Common Crawl index layout:
  * every record gets a line `urlkey ts {json}`, lines live in sorted
  * shards, and a tiny `cluster.idx` maps each shard to its first key so a
  * point lookup opens ONE shard and then ONE gzip member of ONE segment.
  *
  * Scale shape (this is how CC serves petabytes): indexing is one
  * streaming task per segment (O(record) memory, boundaries from
  * [[GzipMembers]]); the entry table is range-partitioned by `urlkey` and
  * sorted within shards, so the index itself is written with one shuffle;
  * lookups touch `cluster.idx` (KBs, driver-side) → one shard (pruned
  * statically, same discipline as the bucket-pruned point reads) → one
  * `seek(offset)`. Nothing ever scans the corpus.
  */
object CdxIndex {

  // ---------------------------------------------------------------- SURT

  /** Sort-friendly URI Reordering Transform, pywb-canonicalized: lowercase,
    * scheme dropped, leading `www.` dropped, host reversed and
    * comma-joined, default ports dropped, query params sorted, fragment
    * dropped. `http://WWW.Example.COM:80/A/b?z=1&a=2#f` →
    * `com,example)/a/b?a=2&z=1`.
    */
  def surtKey(url: String): String = {
    val noFrag = { val h = url.indexOf('#'); if (h >= 0) url.substring(0, h) else url }
    val lower = noFrag.toLowerCase(java.util.Locale.ROOT)
    val afterScheme = {
      val i = lower.indexOf("://")
      if (i >= 0) lower.substring(i + 3) else lower
    }
    val slash = afterScheme.indexOf('/')
    val (auth, rest) =
      if (slash >= 0) (afterScheme.substring(0, slash), afterScheme.substring(slash))
      else (afterScheme, "/")
    val hostPort = auth.split('@').last // userinfo never keys an index
    val (host0, port) = hostPort.indexOf(':') match {
      case -1 => (hostPort, "")
      case i  => (hostPort.substring(0, i), hostPort.substring(i + 1))
    }
    val host = if (host0.startsWith("www.")) host0.substring(4) else host0
    val revHost = host.split('.').reverse.mkString(",")
    val portPart = if (port.isEmpty || port == "80" || port == "443") "" else ":" + port
    val (path, query) = rest.indexOf('?') match {
      case -1 => (rest, "")
      case i  => (rest.substring(0, i), rest.substring(i + 1))
    }
    val sortedQuery =
      if (query.isEmpty) ""
      else "?" + query.split('&').filter(_.nonEmpty).sorted.mkString("&")
    // cdxj lines are space-delimited and cluster.idx is tab-delimited: a
    // malformed WARC-Target-URI carrying raw whitespace would shift every
    // downstream split_part parse and corrupt the shard map — percent-
    // encode the offenders so one bad URL cannot poison the index format
    (revHost + portPart + ")" + path + sortedQuery).flatMap {
      case ' '  => "%20"
      case '\t' => "%09"
      case '\r' => "%0d"
      case '\n' => "%0a"
      case c    => c.toString
    }
  }

  /** SHA-1 of the payload, Base32 (RFC 4648 uppercase; 20 bytes → exactly
    * 32 chars, no padding) — the WARC-Payload-Digest convention.
    */
  def sha1Base32(bytes: Array[Byte]): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder(32)
    var buffer = 0L
    var bits = 0
    sha.foreach { b =>
      buffer = (buffer << 8) | (b & 0xFF)
      bits += 8
      while (bits >= 5) {
        bits -= 5
        sb.append(alphabet(((buffer >> bits) & 0x1F).toInt))
      }
    }
    sb.toString
  }

  private[pipeline] def ts14(warcDate: String): String =
    try {
      val i = java.time.Instant.parse(warcDate)
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
        .withZone(java.time.ZoneOffset.UTC).format(i)
    } catch { case scala.util.control.NonFatal(_) => "19700101000000" }

  // ------------------------------------------------------------- indexing

  /** Index every record of every segment matching `glob`: one streaming
    * task per segment file (the [[WarcSource]] discipline), member
    * boundaries from [[GzipMembers]], record fields parsed from the
    * decompressed member.
    */
  def entries(spark: SparkSession, glob: String): Dataset[CdxEntry] =
    entriesForFiles(spark, listSegments(spark, glob))

  /** [[entries]] over an explicit file list (the append path's
    * not-yet-indexed slice). The entry's `filename` is the FULL segment
    * path — unique across segment directories and fetchable as-is (CC's
    * own cdxj carries crawl-root-relative paths for the same reason).
    */
  private def entriesForFiles(spark: SparkSession, files: Seq[String]): Dataset[CdxEntry] = {
    import spark.implicits._
    val confBc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val paths = spark.createDataset(files).repartition(math.max(1, files.size))
    paths.mapPartitions { it =>
      it.flatMap { pathStr =>
        val path = new Path(pathStr)
        val in = path.getFileSystem(confBc.value.value).open(path)
        // the stream must close even when the iterator is abandoned
        // (downstream limit/take) or a record throws mid-segment — the
        // task-completion listener is the only hook that covers both
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ =>
            try in.close() catch { case scala.util.control.NonFatal(_) => () }))
        val ms = GzipMembers.members(in).flatMap { m =>
          WarcReader.records(new java.io.ByteArrayInputStream(m.bytes))
            .take(1) // one record per member in the CC layout
            .map { r =>
              CdxEntry(surtKey(r.targetUri), ts14(r.date), r.targetUri,
                r.httpContentType, r.httpStatus, sha1Base32(r.body),
                m.offset, m.compressedLength, pathStr)
            }
        }
        closeWhenDone(ms, in) // prompt close on the normal drained path
      }
    }
  }

  /** Build the sorted-shard index under `idxDir`: `cdx-g0-NNNNN.gz`
    * shards (range-partitioned by urlkey, sorted within) plus
    * `cluster.idx`. Returns entry count. A rebuild replaces the whole
    * index state.
    */
  def build(spark: SparkSession, warcGlob: String, idxDir: String, shards: Int = 4): Long = {
    val files = listSegments(spark, warcGlob)
    val shardInfo = writeGeneration(spark,
      entriesForFiles(spark, files), idxDir, gen = 0, shards)
    commitCluster(spark, idxDir, files, shardInfo)
    shardInfo.map(_._3).sum
  }

  /** Incremental maintenance — the LSM discipline the manifest tables
    * already follow: index ONLY segments `cluster.idx` has not seen, as a
    * NEW sorted generation (`cdx-g<n>-*.gz`); lookups consult one shard
    * PER GENERATION; [[compactGenerations]] folds generations back to
    * one. Nothing existing is rewritten, so a daily crawl appends its
    * segments in O(new data). Commit point is the single atomic
    * `cluster.idx` rewrite (it carries both the shard map and the
    * indexed-segment list): a crash before it leaves only orphan shard
    * files that the cluster-driven reader never consults; a re-run
    * re-indexes the same segments into a fresh generation and commits.
    * Returns entries appended (0 = everything already indexed).
    */
  def append(spark: SparkSession, warcGlob: String, idxDir: String, shards: Int = 4): Long = {
    val state = clusterState(spark, idxDir)
    val files = listSegments(spark, warcGlob)
      .filterNot(state.segments.contains)
    if (files.isEmpty) return 0L
    val gen = state.shards.map(s => genOf(s._2)).reduceOption(_ max _).getOrElse(-1) + 1
    val shardInfo = writeGeneration(spark,
      entriesForFiles(spark, files), idxDir, gen, shards)
    commitCluster(spark, idxDir,
      state.segments ++ files,
      state.shards ++ shardInfo)
    shardInfo.map(_._3).sum
  }

  /** Fold every generation into one freshly-sorted generation (the LSM
    * major compaction): new shards written under the next gen number, the
    * cluster.idx rewrite is the atomic cutover, old shard files deleted
    * last (a crash leaves orphans the reader ignores, never a torn
    * index). Indexed-segment memory is preserved.
    */
  def compactGenerations(spark: SparkSession, idxDir: String, shards: Int = 4): Long = {
    import spark.implicits._
    val state = clusterState(spark, idxDir)
    val gens = state.shards.map(s => genOf(s._2)).distinct
    if (gens.size <= 1) return 0L
    val all = read(spark, idxDir).as[CdxEntry]
    val gen = gens.max + 1
    val shardInfo = writeGeneration(spark, all, idxDir, gen, shards)
    commitCluster(spark, idxDir, state.segments, shardInfo)
    val fs = new Path(idxDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    state.shards.foreach { case (_, f, _) => fs.delete(new Path(s"$idxDir/$f"), false) }
    shardInfo.map(_._3).sum
  }

  private def listSegments(spark: SparkSession, glob: String): Seq[String] = {
    val p = new Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(p)).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath.toString).toSeq.sorted
  }

  private[pipeline] def genOf(shardFile: String): Int = {
    val m = java.util.regex.Pattern.compile("cdx-g(\\d+)-").matcher(shardFile)
    if (m.find()) m.group(1).toInt else 0
  }

  /** Range-partition + sort the entries and write them as one generation's
    * shards; returns (firstKey, file, count) per non-empty shard.
    */
  private def writeGeneration(spark: SparkSession, es: Dataset[CdxEntry],
      idxDir: String, gen: Int, shards: Int): Seq[(String, String, Long)] = {
    val confBc = spark.sparkContext.broadcast(
      new SerializableConfiguration(LocalFs.hadoopConf(spark)))
    // range-partition on urlkey ALONE: equal keys then land in one shard
    // by construction, so a multi-capture url (same key, many ts) can
    // never straddle a shard boundary and hide its older captures from
    // the one-shard-per-generation lookup
    val sorted = es
      .repartitionByRange(shards, col("urlkey"))
      .sortWithinPartitions(col("urlkey"), col("ts"), col("url"))
    sorted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val file = f"cdx-g$gen%d-$pid%05d.gz"
        val path = new Path(s"$idxDir/$file")
        val out = path.getFileSystem(confBc.value.value).create(path, true)
        val gz = new java.util.zip.GZIPOutputStream(out, 1 << 16)
        var first: String = null
        var n = 0L
        try {
          it.foreach { e =>
            if (first == null) first = e.urlkey
            gz.write(cdxjLine(e).getBytes(UTF_8))
            gz.write('\n')
            n += 1
          }
        } finally { gz.close() }
        Iterator.single((first, file, n))
      }
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong))
      .collect().toSeq.sortBy(_._1)
  }

  /** The reader-visible index state: indexed segment names + shard map. */
  private[pipeline] final case class ClusterState(
      segments: Seq[String], shards: Seq[(String, String, Long)])

  private[pipeline] def clusterState(spark: SparkSession, idxDir: String): ClusterState = {
    val path = new Path(s"$idxDir/cluster.idx")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: a complete tmp with no live cluster file means a
    // commit died between write and rename — finish it (the tmp is only
    // ever written whole+closed before the cutover)
    val tmp = new Path(s"$idxDir/cluster.idx.tmp")
    if (!fs.exists(path) && fs.exists(tmp)) fs.rename(tmp, path)
    if (!fs.exists(path)) return ClusterState(Seq.empty, Seq.empty)
    val in = fs.open(path)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val segments = lines.collect { case l if l.startsWith("#segment\t") => l.substring(9) }
    val shards = lines.filterNot(_.startsWith("#")).filter(_.nonEmpty).map { l =>
      val p = l.split('\t'); (p(0), p(1), p(2).toLong)
    }
    ClusterState(segments, shards)
  }

  /** Atomic cluster.idx rewrite: shard map + the indexed-segment list in
    * ONE file, so crash recovery never sees a shard map that disagrees
    * with the segment memory. The cutover is an OVERWRITE rename
    * (FileContext — atomic on HDFS and posix local fs, no delete window);
    * where FileContext is unavailable the delete+rename fallback is
    * covered by [[clusterState]]'s tmp-recovery, so a crash between the
    * two steps still resolves to the NEW state, never to no state.
    */
  private def commitCluster(spark: SparkSession, idxDir: String,
      segments: Seq[String], shards: Seq[(String, String, Long)]): Unit = {
    val conf = LocalFs.hadoopConf(spark)
    val fs = new Path(idxDir).getFileSystem(conf)
    val tmp = new Path(s"$idxDir/cluster.idx.tmp")
    val out = fs.create(tmp, true)
    val body =
      segments.distinct.sorted.map(s => s"#segment\t$s") ++
        shards.sortBy(_._1).map { case (k, f, n) => s"$k\t$f\t$n" }
    try out.write(body.mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
    val dst = new Path(s"$idxDir/cluster.idx")
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
        .rename(fs.makeQualified(tmp), fs.makeQualified(dst),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        fs.delete(dst, false)
        if (!fs.rename(tmp, dst) && !fs.exists(dst))
          throw new java.io.IOException(s"cluster.idx commit failed in $idxDir")
    }
  }

  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** The CDX-J line shape CC publishes: `urlkey ts {json}` with numeric
    * fields as STRINGS (that is the published convention, kept for
    * interchange fidelity).
    */
  private[pipeline] def cdxjLine(e: CdxEntry): String =
    s"""${e.urlkey} ${e.ts} {"url": "${jsonEsc(e.url)}", "mime": "${jsonEsc(e.mime)}", """ +
      s""""status": "${e.status}", "digest": "${e.digest}", "length": "${e.length}", """ +
      s""""offset": "${e.offset}", "filename": "${jsonEsc(e.filename)}"}"""

  // -------------------------------------------------------------- reading

  /** Parse cdx shard text back into columns (Spark-native line parsing —
    * the same DataFrame whether the index came from this writer or from a
    * foreign CC-style indexer). CLUSTER-DRIVEN: only shards `cluster.idx`
    * names are read, so compaction orphans and torn appends are invisible;
    * a foreign index without a cluster file falls back to the glob.
    */
  def read(spark: SparkSession, idxDir: String): DataFrame = {
    val state = clusterState(spark, idxDir)
    if (state.shards.isEmpty) parseLines(spark.read.text(s"$idxDir/cdx-*.gz"))
    else parseLines(spark.read.text(state.shards.map(s => s"$idxDir/${s._2}"): _*))
  }

  private def parseLines(lines: DataFrame): DataFrame = {
    val j = expr("substring(value, instr(value, '{'))")
    lines.select(
      expr("split_part(value, ' ', 1)").as("urlkey"),
      expr("split_part(value, ' ', 2)").as("ts"),
      get_json_object(j, "$.url").as("url"),
      get_json_object(j, "$.mime").as("mime"),
      get_json_object(j, "$.status").cast("int").as("status"),
      get_json_object(j, "$.digest").as("digest"),
      get_json_object(j, "$.offset").cast("long").as("offset"),
      get_json_object(j, "$.length").cast("long").as("length"),
      get_json_object(j, "$.filename").as("filename"))
  }

  /** Point lookup: prune to ONE shard PER GENERATION whose key range can
    * hold the url (driver-side `cluster.idx`, KBs), then filter those
    * shards. With a compacted index that is one file; an appended-but-not-
    * compacted index pays one shard per generation — the LSM read
    * amplification compaction exists to fold away. The corpus and every
    * other shard are never opened.
    */
  def lookup(spark: SparkSession, idxDir: String, url: String): DataFrame =
    lookupMany(spark, idxDir, Seq(url))

  /** Batched point lookup: captures of EVERY url in one read. Owner shards
    * are resolved per key against the driver-side `cluster.idx` (one shard
    * per generation per key), deduplicated, and read once with an
    * `urlkey IN (...)` filter — so probing a 10k-url sliver costs
    * |distinct owner shards| file opens, not 10k lookup jobs and never a
    * corpus scan. This is the read path [[SeenUrls.filterNew]] routes its
    * maybe-seen sliver through.
    *
    * A cluster-less foreign CC-style index (cdx-*.gz but no cluster.idx —
    * the same case [[read]] supports) falls back to filtering the full
    * glob rather than silently reporting zero captures.
    */
  def lookupMany(spark: SparkSession, idxDir: String, urls: Seq[String]): DataFrame = {
    def noCaptures = parseLines(
      spark.createDataset(Seq.empty[String])(
        org.apache.spark.sql.Encoders.STRING).toDF("value"))
    val keys = urls.map(surtKey).distinct
    if (keys.isEmpty) return noCaptures
    val state = clusterState(spark, idxDir)
    val keyFilter = col("urlkey").isin(keys: _*)
    if (state.shards.isEmpty) {
      // no cluster.idx: mirror read()'s glob fallback (empty glob → no index)
      val fs = new Path(idxDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val any = Option(fs.globStatus(new Path(s"$idxDir/cdx-*.gz")))
        .exists(_.nonEmpty)
      if (!any) return noCaptures
      return parseLines(spark.read.text(s"$idxDir/cdx-*.gz")).filter(keyFilter)
    }
    val owners = state.shards.groupBy(s => genOf(s._2)).values.toSeq.flatMap { gen =>
      val sorted = gen.sortBy(_._1)
      keys.flatMap { key =>
        // owner = last shard whose firstKey <= key (key below every firstKey
        // → the generation's first shard); PLUS any following shards whose
        // firstKey == key — our writer co-locates equal keys, but a foreign
        // index may straddle a multi-capture url across a shard boundary
        val ownerIdx = sorted.lastIndexWhere(_._1 <= key) match {
          case -1 => 0
          case i  => i
        }
        sorted.zipWithIndex.collect {
          case ((first, file, _), i) if i == ownerIdx || (i > ownerIdx && first == key) => file
        }
      }
    }.distinct
    parseLines(spark.read.text(owners.map(o => s"$idxDir/$o"): _*))
      .filter(keyFilter)
  }

  /** Random access: seek to one gzip member and parse its record — the
    * read path the index exists for. O(record) I/O into a 100 TB corpus.
    */
  def fetch(conf: Configuration, segmentPath: String, offset: Long, length: Long): Option[WarcRecord] = {
    val path = new Path(segmentPath)
    val in = path.getFileSystem(conf).open(path)
    try {
      in.seek(offset)
      val buf = new Array[Byte](length.toInt)
      in.readFully(buf)
      val it = WarcReader.records(new java.io.ByteArrayInputStream(buf))
      if (it.hasNext) Some(it.next()) else None
    } finally in.close()
  }

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
