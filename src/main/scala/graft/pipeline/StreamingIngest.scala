package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Continuous ingestion into the committed extract table: a Structured
  * Streaming source of pages → the extract stage → `foreachBatch` commits
  * each micro-batch into the same `(part_bucket, warc_day)` layout the
  * batch pipeline writes, EXACTLY ONCE across failures and replays.
  *
  * Exactly-once recipe (the standard transactional-foreachBatch pattern,
  * specialized to this table):
  *   - every row of micro-batch B lands under an `ingest_batch=B`
  *     partition prefix, so a batch's output is a disjoint set of
  *     partition directories;
  *   - the write uses DYNAMIC partition overwrite — a REPLAYED batch
  *     (stream restart from the sink checkpoint) rewrites exactly its own
  *     `ingest_batch=B/...` partitions with identical deterministic rows,
  *     never duplicating and never touching other batches;
  *   - the manifest line for B is appended AFTER the parquet write; a
  *     kill between the two leaves a torn batch whose replay converges,
  *     and `committedBatches` tells downstream readers which batches are
  *     query-consistent.
  *
  * Bucket/day pruning still applies under the batch prefix: partition
  * pruning composes across levels, so a point read scans
  * (#batches × 1 bucket) directories, and [[compact]] folds committed
  * batch prefixes into one plain layout.
  */
object StreamingIngest {

  def committedBatches(outDir: String): Set[Long] =
    Commit.lines(Commit.manifest(outDir, "stream_manifest.jsonl"))
      .flatMap(Commit.longField(_, "batch_id")).toSet

  /** The `foreachBatch` function: extract + commit one micro-batch.
    * Public and directly callable so tests (and a replay after restart)
    * can exercise idempotence without a running stream.
    */
  def commitBatch(outDir: String, numBuckets: Int = 32)(
      batch: Dataset[Page], batchId: Long): Unit = {
    if (committedBatches(outDir).contains(batchId)) return // replayed + committed → no-op
    val spark = batch.sparkSession
    import spark.implicits._
    val extracted = batch.mapPartitions(_.map(ExtractStage.processOne)).toDF()
      .withColumn("ingest_batch", lit(batchId))
      .withColumn("part_bucket", Commit.bucketOf(col("url"), numBuckets))
      .withColumn("warc_day", to_date(col("warc_ts")))
    // dynamic overwrite: replay rewrites ingest_batch=<id>/... in place,
    // exactly-once by construction
    Commit.write(extracted, s"$outDir/data", "ingest_batch", "part_bucket", "warc_day")
    // counted from this batch's own prefix; a batch without rows (a landing
    // segment with no HTTP-200 response) wrote none and counts 0
    val (rows, ok) = Commit.readPrefixes(spark, s"$outDir/data", "ingest_batch", Set(batchId))
      .fold((0L, 0L)) { df =>
        val r = df.agg(count(lit(1)), count(when(col("success"), 1))).head()
        (r.getLong(0), r.getLong(1))
      }
    Commit.appendLine(Commit.manifest(outDir, "stream_manifest.jsonl"),
      s"""{"batch_id":$batchId,"rows":$rows,"ok_rows":$ok}""")
  }

  /** Wire a pages stream into the committed table. Caller starts/stops the
    * returned query (tests use `processAllAvailable`).
    */
  def start(pages: Dataset[Page], outDir: String, checkpointDir: String,
      numBuckets: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Page], batchId: Long) =>
        commitBatch(outDir, numBuckets)(batch, batchId)
      }
      .start()

  /** The table schema before any batch lands: the extract row plus the
    * three partition columns. Lets a freshly-initialized table answer
    * reads with an EMPTY DataFrame instead of AnalysisException-ing on a
    * data directory that doesn't exist yet.
    */
  private def emptyTable(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[ExtractedPage].toDF()
      .withColumn("ingest_batch", lit(0L))
      .withColumn("part_bucket", lit(0))
      .withColumn("warc_day", to_date(col("warc_ts")))
  }

  /** The full continuous pipeline: each micro-batch extract-commits
    * exactly once into the streaming extract table, THEN folds into the
    * curated kept corpus — the first batch builds the corpus + band-key
    * index, every later batch curates incrementally against the stored
    * index ([[CuratedPipeline.curateBatch]]). This is the deployment
    * shape the north star implies: a crawl feed runs continuously and
    * curation cost per batch is O(batch + collisions), never O(corpus).
    * Both stages are idempotent under stream replay, so exactly-once
    * holds end to end from WARC segment to kept corpus.
    */
  def startCurated(pages: Dataset[Page], extractDir: String, curatedDir: String,
      checkpointDir: String, numBuckets: Int = 32):
      org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Page], batchId: Long) =>
        commitBatch(extractDir, numBuckets)(batch, batchId)
        CuratedPipeline.curateBatch(batch.sparkSession, batchId,
          extractDir, curatedDir, numBuckets)
        ()
      }
      .start()

  /** Read the streaming-committed table (only manifest-committed batches —
    * a torn batch's files exist but aren't query-consistent yet), straight
    * from the batch prefixes; `ingest_batch` reads as long on every path
    * (raw, compact and the empty table).
    */
  def readCommitted(spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    Commit.readPrefixes(spark, s"$outDir/data", "ingest_batch", committedBatches(outDir))
      .getOrElse(emptyTable(spark))

  // ---- compaction ---------------------------------------------------------
  //
  // Continuous ingestion accretes an ingest_batch=B prefix per micro-batch:
  // after a day of 1-minute batches a point read prunes to one bucket but
  // still opens 1440 batch directories of small files. The table is folded,
  // read and vacuumed through Commit's versioned fold, with ingest_batch as
  // its prefix and the manifest-committed batches as its committed set.

  /** Fold all committed-but-unfolded batches into the next compact version,
    * one bucket per write task (`numBuckets` = the table's bucket count).
    * Returns the new version, or the current one if nothing to fold.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, outDir: String,
      numBuckets: Int = 32): Long =
    Commit.fold(spark, outDir, "ingest_batch", committedBatches(outDir), numBuckets)

  /** Unified read: current compact version ∪ committed-but-unfolded batches.
    * Every committed row is visible exactly once regardless of how much has
    * been compacted.
    */
  def readAll(spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    Commit.readFolded(spark, outDir, "ingest_batch", committedBatches(outDir))
      .getOrElse(emptyTable(spark))

  /** Delete raw batch directories already folded and compact versions older
    * than current. Run only when no reader is mid-query (single-writer
    * maintenance, same caveat as Iceberg's expire_snapshots).
    */
  def vacuum(spark: org.apache.spark.sql.SparkSession, outDir: String): Unit =
    Commit.vacuum(spark, outDir, "ingest_batch")
}
