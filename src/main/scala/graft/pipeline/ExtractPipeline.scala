package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  * Commits follow the protocol of [[Commit]] (J3).
  */
object ExtractPipeline {

  /** Page + its hidden-partition bucket (pmod(xxhash64(url), B)). */
  final case class BucketedPage(
      url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
      text: String, lang: String, part_bucket: Int)

  def committedBuckets(outDir: String): Set[Int] =
    Commit.lines(Commit.manifest(outDir, "manifest.jsonl"))
      .flatMap(Commit.longsField(_, "buckets")).map(_.toInt).toSet

  private[pipeline] def appendManifest(outDir: String, runId: String, snapshotId: String,
      buckets: Seq[Int], lineage: Seq[LineageRow]): Unit = {
    val lineageJson = lineage.map(l =>
      s"""{"partition_id":${l.partition_id},"input_rows":${l.input_rows},"ok_rows":${l.ok_rows},"fail_rows":${l.fail_rows},"bytes_in":${l.bytes_in},"ms":${l.ms},"status":"${l.status}"}""")
      .mkString("[", ",", "]")
    Commit.appendLine(Commit.manifest(outDir, "manifest.jsonl"),
      s"""{"run_id":"$runId","snapshot_id":"$snapshotId","buckets":[${buckets.mkString(",")}],"lineage":$lineageJson}""")
  }

  /** Snapshot-compact the manifest: fold every per-snapshot line into ONE
    * line carrying the full committed-bucket set (the extract-table analog
    * of StreamingIngest's compaction — without it the manifest grows one
    * line per snapshot forever and `committedBuckets` re-parses all of
    * history on every resume). Per-snapshot lineage lines are moved to
    * `manifest_archive.jsonl` (append-only, nothing is lost — the same
    * trade as Iceberg's expire_snapshots: current state stays one read,
    * history moves to the archive). The rewrite is [[Commit.rewrite]], so a
    * reader/crash mid-compaction sees either the old or the new manifest,
    * never a torn one. Single maintenance writer
    * assumed (like every compaction here): a snapshot APPENDED between
    * this function's read and its move would be lost — do not run it
    * concurrently with an active extract job on the same table.
    *
    * @return number of manifest lines folded (0 = nothing to do)
    */
  def compactManifest(outDir: String): Int = {
    val mf = Commit.manifest(outDir, "manifest.jsonl")
    val lines = Commit.lines(mf)
    if (lines.size <= 1) return 0
    val buckets = committedBuckets(outDir).toSeq.sorted
    Commit.appendLine(mf.resolveSibling("manifest_archive.jsonl"), lines.mkString("\n"))
    Commit.rewrite(mf, Seq(
      s"""{"run_id":"manifest-compact","snapshot_id":"compact","buckets":[${buckets.mkString(",")}],"lineage":[]}"""))
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
    val bucketed = pages
      .withColumn("part_bucket", Commit.bucketOf(col("url"), numBuckets))
      .as[BucketedPage]
    Commit.commitGroups(bucketed, outDir, numBuckets,
        (0 until numBuckets).filterNot(done), snapshotGroups, runId,
        Seq("part_bucket" -> Commit.bucketOf(col("url"), numBuckets),
          "warc_day" -> to_date(col("warc_ts")))) { bp =>
      val ep = ExtractStage.processOne(Page(bp.url, bp.warc_ts, bp.html, bp.text, bp.lang))
      (ep, ep.success, if (bp.html == null) 0L else bp.html.length.toLong)
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
      Commit.lines(path).flatMap { line =>
        for (id <- Commit.field(line, "snapshot_id"); _ <- Commit.field(line, "buckets"))
          yield (id, Commit.longsField(line, "buckets").map(_.toInt).toSet)
      }
    val mf = Commit.manifest(outDir, "manifest.jsonl")
    // the "compact" marker is filtered from BOTH sources: a second
    // compaction archives the first compaction's marker line, which must
    // not surface as a phantom snapshot in the history
    val all = (parse(mf.resolveSibling("manifest_archive.jsonl")) ++ parse(mf))
      .filterNot(_._1 == "compact")
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
      .filter(col("part_bucket") === Commit.bucketOf(lit(url), numBuckets)
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
