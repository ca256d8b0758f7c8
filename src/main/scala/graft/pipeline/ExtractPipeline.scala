package graft.pipeline

import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Per-partition lineage row (SURVEY.md §7.5 / FIXTURES.md §3). In the
  * extract table one task writes one bucket, and `partition_id` is that
  * bucket's id.
  */
final case class LineageRow(
    run_id: String,
    snapshot_id: String,
    partition_id: Int,
    input_rows: Long,
    ok_rows: Long,
    fail_rows: Long,
    bytes_in: Long,
    ms: Long,
    status: String)

/** The resumable extraction job: Iceberg-snapshot semantics emulated over
  * partitioned Parquet + an append-only JSONL manifest (no Iceberg jar in
  * this sandbox — SURVEY.md environment facts).
  *
  * Layout:
  *   out/data/part_bucket=<b>/warc_day=<d>/…parquet
  *     — hidden-partitioning emulation of Iceberg `bucket(url)` +
  *       `days(warc_ts)`: point reads prune to one bucket, time-range
  *       scans (the most common crawl-corpus predicate) prune to the
  *       matching days instead of reading every bucket
  *   out/_manifest/manifest.jsonl        — one line per committed snapshot,
  *                                         listing bucket ids + lineage
  *
  * Commit protocol: the buckets still to commit are shuffled ONCE per run,
  * one bucket per partition, and committed in snapshot groups that each
  * read only their own partitions of that shuffle. Each group's parquet
  * write completes BEFORE its manifest line is written; the write uses
  * dynamic partition overwrite, so re-running a torn group replaces
  * exactly its buckets and never appends duplicate rows. A kill therefore
  * wastes at most the scan+shuffle plus one group's extraction. Nothing
  * is pinned: a lost executor's map output recomputes from the input.
  * Resume reads the manifest and leaves committed buckets out of the
  * shuffle (J3).
  */
object ExtractPipeline {

  /** Page + its hidden-partition bucket (pmod(xxhash64(url), B)). */
  final case class BucketedPage(
      url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
      text: String, lang: String, part_bucket: Int)

  def committedBuckets(outDir: String): Set[Int] = {
    val mf = Paths.get(outDir, "_manifest", "manifest.jsonl")
    if (!Files.exists(mf)) Set.empty
    else Files.readAllLines(mf).asScala.flatMap { line =>
      // minimal parse: "buckets":[1,2,3]
      val m = java.util.regex.Pattern.compile("\"buckets\":\\[([0-9,]*)\\]").matcher(line)
      if (m.find() && m.group(1).nonEmpty) m.group(1).split(",").map(_.toInt).toSeq else Seq.empty
    }.toSet
  }

  private[pipeline] def appendManifest(outDir: String, runId: String, snapshotId: String,
      buckets: Seq[Int], lineage: Seq[LineageRow]): Unit = {
    val dir = Paths.get(outDir, "_manifest")
    Files.createDirectories(dir)
    val lineageJson = lineage.map(l =>
      s"""{"partition_id":${l.partition_id},"input_rows":${l.input_rows},"ok_rows":${l.ok_rows},"fail_rows":${l.fail_rows},"bytes_in":${l.bytes_in},"ms":${l.ms},"status":"${l.status}"}""")
      .mkString("[", ",", "]")
    val line = s"""{"run_id":"$runId","snapshot_id":"$snapshotId","buckets":[${buckets.mkString(",")}],"lineage":$lineageJson}""" + "\n"
    Files.write(dir.resolve("manifest.jsonl"), line.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Snapshot-compact the manifest: fold every per-snapshot line into ONE
    * line carrying the full committed-bucket set (the extract-table analog
    * of StreamingIngest's compaction — without it the manifest grows one
    * line per snapshot forever and `committedBuckets` re-parses all of
    * history on every resume). Per-snapshot lineage lines are moved to
    * `manifest_archive.jsonl` (append-only, nothing is lost — the same
    * trade as Iceberg's expire_snapshots: current state stays one read,
    * history moves to the archive). The rewrite goes through a temp file +
    * atomic move, so a reader/crash mid-compaction sees either the old or
    * the new manifest, never a torn one. Single maintenance writer
    * assumed (like every compaction here): a snapshot APPENDED between
    * this function's read and its move would be lost — do not run it
    * concurrently with an active extract job on the same table.
    *
    * @return number of manifest lines folded (0 = nothing to do)
    */
  def compactManifest(outDir: String): Int = {
    val dir = Paths.get(outDir, "_manifest")
    val mf = dir.resolve("manifest.jsonl")
    if (!Files.exists(mf)) return 0
    val lines = Files.readAllLines(mf).asScala.filter(_.nonEmpty)
    if (lines.size <= 1) return 0
    val buckets = committedBuckets(outDir).toSeq.sorted
    val archive = dir.resolve("manifest_archive.jsonl")
    Files.write(archive, (lines.mkString("\n") + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    val line = s"""{"run_id":"manifest-compact","snapshot_id":"compact","buckets":[${buckets.mkString(",")}],"lineage":[]}""" + "\n"
    val tmp = dir.resolve("manifest.jsonl.tmp")
    Files.write(tmp, line.getBytes("UTF-8"))
    Files.move(tmp, mf, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    lines.size
  }

  /** Run (or resume) the extraction job.
    *
    * @param numBuckets  hidden-partition bucket count (stands in for Iceberg
    *                    bucket(url); sized so one bucket ≪ executor memory
    *                    at the target SF)
    * @param snapshotGroups how many commit points (snapshots) a full run has
    * @return lineage rows of THIS run, one per bucket it committed with
    *         `partition_id` = the bucket id (committed work from prior runs
    *         is not re-reported)
    */
  def run(spark: SparkSession, pages: Dataset[Page], outDir: String,
      numBuckets: Int = 32, snapshotGroups: Int = 4,
      runId: String = "run"): Seq[LineageRow] = {
    import spark.implicits._

    val done = committedBuckets(outDir)
    val remaining = (0 until numBuckets).filterNot(done)
    if (remaining.isEmpty) return Seq.empty

    // slot = the bucket's index in `remaining` (-1: committed), so the one
    // shuffle places exactly one bucket in each partition, with no hash
    // collisions, and the writer emits one file per bucket and day. One
    // array read per row, indexed by bucket id, whatever numBuckets is.
    val slotOf = Array.fill(numBuckets)(-1)
    remaining.zipWithIndex.foreach { case (b, s) => slotOf(b) = s }
    val slot = element_at(typedLit(slotOf), col("part_bucket") + 1)
    val shuffled = pages
      .withColumn("part_bucket", pmod(xxhash64(col("url")), lit(numBuckets)).cast("int"))
      .filter(slot >= 0)
      .repartitionById(remaining.length, slot)
      .as[BucketedPage].rdd

    val groupSize = math.max(1, (numBuckets + snapshotGroups - 1) / snapshotGroups)
    remaining.indices.grouped(groupSize).toSeq.zipWithIndex.flatMap { case (slots, gi) =>
      val buckets = slots.map(remaining)
      val snapshotId = f"snap-$runId-$gi%03d"
      val metricsAcc = spark.sparkContext.collectionAccumulator[LineageRow](s"lineage-$snapshotId")
      // this group's slots of the shared shuffle: the map stage ran once,
      // later groups fetch its output and skip it
      val extracted = PartitionPruningRDD.create(shuffled, slots.contains(_))
        .mapPartitionsWithIndex { (i, it) =>
          val t0 = System.nanoTime()
          var inRows = 0L; var ok = 0L; var fail = 0L; var bytes = 0L
          var reported = false
          val out = it.map { bp =>
            val ep = ExtractStage.processOne(Page(bp.url, bp.warc_ts, bp.html, bp.text, bp.lang))
            inRows += 1
            if (ep.success) ok += 1 else fail += 1
            bytes += (if (bp.html == null) 0 else bp.html.length)
            ep
          }
          new Iterator[ExtractedPage] {
            def hasNext: Boolean = {
              val h = out.hasNext
              if (!h && !reported) {
                reported = true
                metricsAcc.add(LineageRow(runId, snapshotId, buckets(i), inRows, ok, fail,
                  bytes, (System.nanoTime() - t0) / 1000000, "committed"))
              }
              h
            }
            def next(): ExtractedPage = out.next()
          }
        }

      spark.createDataset(extracted)
        .withColumn("part_bucket", pmod(xxhash64(col("url")), lit(numBuckets)).cast("int"))
        .withColumn("warc_day", to_date(col("warc_ts")))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("part_bucket", "warc_day")
        // dynamic partition overwrite: re-running a torn group replaces
        // exactly its buckets, never clobbering committed ones. Scoped to
        // THIS write (not the session conf) so callers' later partitioned
        // writes keep whatever overwrite semantics they expect.
        .option("partitionOverwriteMode", "dynamic")
        .options(LocalFs.writeOptions)
        .option("compression", "zstd") // text-heavy output: zstd ≫ snappy at scale
        // 16 MB row groups: the default 128 MB makes every write task hold
        // a huge column buffer — on faulting-sensitive hosts that's a 2-3x
        // throughput hit (BENCH.md), and smaller groups parallelize reads
        .option("parquet.block.size", (16 * 1024 * 1024).toString)
        .parquet(s"$outDir/data")

      // dedupe by bucket: a retried or speculative task reaches the
      // end-of-iterator report twice with identical (deterministic)
      // counts — keep one row per bucket so the manifest audit trail
      // never overcounts
      val lineage = metricsAcc.value.asScala.toSeq
        .groupBy(_.partition_id).map(_._2.head).toSeq.sortBy(_.partition_id)
      appendManifest(outDir, runId, snapshotId, buckets, lineage)
      lineage
    }
  }

  /** Read the committed output table. */
  def readOutput(spark: SparkSession, outDir: String) =
    spark.read.parquet(s"$outDir/data")

  /** Ordered snapshot history `(snapshot_id, buckets)` — the Iceberg
    * `snapshots` metadata-table analog. Survives manifest compaction:
    * per-snapshot lines that `compactManifest` folded away are read back
    * from the append-only archive, so history depth is never lost, only
    * moved off the hot resume path.
    */
  def snapshotHistory(outDir: String): Seq[(String, Set[Int])] = {
    def parse(path: java.nio.file.Path): Seq[(String, Set[Int])] =
      if (!Files.exists(path)) Seq.empty
      else Files.readAllLines(path).asScala.toSeq.filter(_.nonEmpty).flatMap { line =>
        val sm = java.util.regex.Pattern.compile("\"snapshot_id\":\"([^\"]*)\"").matcher(line)
        val bm = java.util.regex.Pattern.compile("\"buckets\":\\[([0-9,]*)\\]").matcher(line)
        if (sm.find() && bm.find())
          Some((sm.group(1),
            if (bm.group(1).isEmpty) Set.empty[Int]
            else bm.group(1).split(",").map(_.toInt).toSet))
        else None
      }
    val dir = Paths.get(outDir, "_manifest")
    // the "compact" marker is filtered from BOTH sources: a second
    // compaction archives the first compaction's marker line, which must
    // not surface as a phantom snapshot in the history
    val all = (parse(dir.resolve("manifest_archive.jsonl")) ++
      parse(dir.resolve("manifest.jsonl"))).filterNot(_._1 == "compact")
    // archive + live manifest can briefly overlap right after compaction;
    // keep first occurrence, preserving commit order
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Set[Int]]
    all.foreach { case (id, b) => if (!seen.contains(id)) seen(id) = b }
    seen.toSeq
  }

  /** Time travel: the table AS OF a committed snapshot — only buckets
    * committed at or before `snapshotId` are read (the `part_bucket`
    * predicate is a partition filter, so later buckets' files are pruned,
    * not scanned-and-dropped). The Iceberg `VERSION AS OF` read on this
    * layout; with deterministic extraction it exactly reproduces what
    * `readOutput` returned when that snapshot was the head.
    */
  def readAsOf(spark: SparkSession, outDir: String, snapshotId: String) = {
    val hist = snapshotHistory(outDir)
    val idx = hist.indexWhere(_._1 == snapshotId)
    require(idx >= 0,
      s"unknown snapshot '$snapshotId' (have: ${hist.map(_._1).mkString(", ")})")
    val buckets = hist.take(idx + 1).flatMap(_._2).distinct
    readOutput(spark, outDir)
      .filter(col("part_bucket").isin(buckets.map(Integer.valueOf): _*))
  }

  /** S7 at the storage layer: exact-url point read. The bucket predicate is
    * foldable (pmod(xxhash64(literal))), so Catalyst constant-folds it and
    * static partition pruning reads exactly ONE of the B buckets — the
    * storage analog of the reference's filename-prefix point lookup
    * (/root/reference/app.py:451-456).
    */
  def pointLookup(spark: SparkSession, outDir: String, url: String,
      numBuckets: Int = 32) =
    readOutput(spark, outDir)
      .filter(col("part_bucket") === pmod(xxhash64(lit(url)), lit(numBuckets)).cast("int")
        && col("url") === url)

  /** S7's combined storage shape (reference /root/reference/app.py:451-456:
    * exact-id lookup, then `startswith` scan when nothing matches): probe
    * the exact url first — a statically-pruned ONE-bucket read — and only
    * on a miss fall back to a prefix scan.
    *
    * The fallback half CANNOT bucket-prune: `part_bucket =
    * pmod(xxhash64(url))` hashes the FULL url, so a prefix determines no
    * bucket and the prefix scan reads every bucket (it still day-prunes if
    * the caller adds a time predicate). That asymmetry is the hash-
    * bucketing trade: uniform balance and O(1) exact probes at the cost of
    * prefix locality — an Iceberg `truncate(url)` partition transform makes
    * the opposite trade. Probing exact-first means the common case (id
    * known) never pays the full scan.
    */
  def lookupWithPrefixFallback(spark: SparkSession, outDir: String,
      urlOrPrefix: String, numBuckets: Int = 32) = {
    val exact = pointLookup(spark, outDir, urlOrPrefix, numBuckets)
    if (!exact.isEmpty) exact
    else readOutput(spark, outDir)
      .filter(col("url").startsWith(urlOrPrefix))
  }

  /** Day-range scan: prunes on the `days(warc_ts)` hidden partition, so a
    * time-window query reads only the matching day directories in each
    * bucket instead of the whole corpus.
    */
  def readDayRange(spark: SparkSession, outDir: String,
      fromDay: String, toDay: String) =
    readOutput(spark, outDir)
      .filter(col("warc_day") >= lit(fromDay) && col("warc_day") <= lit(toDay))
}
