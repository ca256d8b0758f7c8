package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class StreamingIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("streaming-ingest-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = graft.TestDirs.create("graft-si").toString

  test("streaming ingest commits micro-batches exactly once into the bucketed layout") {
    import spark.implicits._
    val src = tmp(); val out = tmp(); val ckpt = tmp()

    // batch 0's input files exist before the stream starts
    ExtractStage.generatePages(spark, 100, partitions = 4)
      .write.parquet(s"$src/f0")
    val pageSchema = implicitly[org.apache.spark.sql.Encoder[Page]].schema
    val stream = spark.readStream.schema(pageSchema)
      .option("recursiveFileLookup", "true").parquet(src).as[Page]
    val q = StreamingIngest.start(stream, out, ckpt, numBuckets = 8)
    q.processAllAvailable()

    // append more source files → second real micro-batch
    ExtractStage.generatePages(spark, 220, partitions = 4)
      .filter(col("url").isin(
        (100 until 220).map(i => PageGen.url(PageGen.DefaultSeed, i.toLong)): _*))
      .as[Page].write.parquet(s"$src/f1")
    q.processAllAvailable()
    q.stop()

    assert(StreamingIngest.committedBatches(out).size >= 2)
    val committed = StreamingIngest.readCommitted(spark, out)
    assert(committed.select("url").distinct().count() == 220)
    assert(committed.count() == 220, "no duplicates across micro-batches")

    // layout: batch prefix, then the same hidden partitioning as batch mode
    val batchDirs = new java.io.File(s"$out/data").listFiles().filter(_.isDirectory)
    assert(batchDirs.nonEmpty && batchDirs.forall(_.getName.startsWith("ingest_batch=")))
    assert(batchDirs.head.listFiles().filter(_.isDirectory)
      .forall(_.getName.startsWith("part_bucket=")))

    // REPLAY a committed batch (restart-from-checkpoint case): manifest says
    // committed → no-op, counts unchanged
    val pages0 = ExtractStage.generatePages(spark, 100, partitions = 4)
    StreamingIngest.commitBatch(out, numBuckets = 8)(pages0, 0L)
    assert(StreamingIngest.readCommitted(spark, out).count() == 220)

    // TORN batch: parquet written but manifest line lost (kill between the
    // two) — drop batch 1's manifest line, replay it, converge exactly
    val mf = Paths.get(out, "_manifest", "stream_manifest.jsonl")
    val keep = Files.readAllLines(mf).asScala.filter(_.contains("\"batch_id\":0"))
    Files.write(mf, (keep.mkString("\n") + "\n").getBytes("UTF-8"))
    assert(StreamingIngest.readCommitted(spark, out).count() == 100) // torn batch invisible
    val pages1 = ExtractStage.generatePages(spark, 220, partitions = 4)
      .filter(col("url").isin(
        (100 until 220).map(i => PageGen.url(PageGen.DefaultSeed, i.toLong)): _*)).as[Page]
    StreamingIngest.commitBatch(out, numBuckets = 8)(pages1, 1L)
    val after = StreamingIngest.readCommitted(spark, out)
    assert(after.count() == 220, "torn-batch replay must converge without duplicates")
    assert(after.select("url").distinct().count() == 220)

    // streaming output equals the batch extract stage on the same pages
    val streamText = after.select($"url", $"extracted_text").as[(String, String)]
      .collect().toMap
    val batchText = ExtractStage.run(ExtractStage.generatePages(spark, 220, partitions = 4))
      .select($"url", $"extracted_text").as[(String, String)].collect().toMap
    assert(streamText == batchText)
  }

  private def slice(from: Int, until: Int) = {
    import spark.implicits._
    ExtractStage.generatePages(spark, until.toLong, partitions = 4)
      .filter(col("url").isin(
        (from until until).map(i => PageGen.url(PageGen.DefaultSeed, i.toLong)): _*))
      .as[Page]
  }

  private def parquetFiles(dir: String): Int = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0
    else Files.walk(root).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
  }

  test("compaction folds batch prefixes into a versioned plain layout; vacuum drops raw dirs") {
    val out = tmp()
    StreamingIngest.commitBatch(out, numBuckets = 8)(slice(0, 100), 0L)
    StreamingIngest.commitBatch(out, numBuckets = 8)(slice(100, 220), 1L)
    val rawFiles = parquetFiles(s"$out/data")

    val v1 = StreamingIngest.compact(spark, out, numBuckets = 8)
    assert(v1 == 1L)
    val all1 = StreamingIngest.readAll(spark, out)
    assert(all1.count() == 220 && all1.select("url").distinct().count() == 220)
    // small-file win: ~1 file per (bucket, day) partition vs per (batch, bucket, day)
    val compFiles = parquetFiles(s"$out/compact/v1")
    assert(compFiles < rawFiles,
      s"compaction must shrink file count ($compFiles vs $rawFiles)")
    // nothing new to fold → version unchanged
    assert(StreamingIngest.compact(spark, out, numBuckets = 8) == 1L)

    // a batch arriving AFTER compaction stays visible exactly once
    StreamingIngest.commitBatch(out, numBuckets = 8)(slice(220, 320), 2L)
    val mixed = StreamingIngest.readAll(spark, out)
    assert(mixed.count() == 320 && mixed.select("url").distinct().count() == 320)
    assert(StreamingIngest.compact(spark, out, numBuckets = 8) == 2L)
    val all2 = StreamingIngest.readAll(spark, out)
    assert(all2.count() == 320 && all2.select("url").distinct().count() == 320)

    // vacuum: folded raw batch dirs and superseded versions deleted,
    // the unified read is unaffected
    StreamingIngest.vacuum(spark, out)
    assert(!Files.exists(Paths.get(s"$out/data/ingest_batch=0")))
    assert(!Files.exists(Paths.get(s"$out/data/ingest_batch=2")))
    assert(!Files.exists(Paths.get(s"$out/compact/v1")))
    val afterVacuum = StreamingIngest.readAll(spark, out)
    assert(afterVacuum.count() == 320
      && afterVacuum.select("url").distinct().count() == 320)
  }

  test("a url fetched twice in one micro-batch keeps both rows through compact and vacuum") {
    val out = tmp()
    // pages 0..2 fetched a second time inside the same batch
    StreamingIngest.commitBatch(out, numBuckets = 8)(slice(0, 50).unionByName(slice(0, 3)), 0L)
    val committed = StreamingIngest.readCommitted(spark, out).count()
    assert(committed == 53)
    assert(StreamingIngest.readAll(spark, out).count() == committed)
    assert(StreamingIngest.compact(spark, out, numBuckets = 8) == 1L)
    assert(StreamingIngest.readAll(spark, out).count() == committed,
      "the fold must keep every committed row")
    StreamingIngest.vacuum(spark, out)
    assert(!Files.exists(Paths.get(s"$out/data/ingest_batch=0")))
    assert(StreamingIngest.readAll(spark, out).count() == committed)
  }

  test("continuous curation: streamed batches incrementally curate to the full-recompute corpus") {
    import spark.implicits._
    val src = tmp(); val ex = tmp(); val cur = tmp(); val ckpt = tmp()
    val all = ExtractStage.generatePages(spark, 400, partitions = 4)
    def slice(from: Int, until: Int) =
      all.filter(col("url").isin(
        (from until until).map(i => PageGen.url(PageGen.DefaultSeed, i.toLong)): _*)).as[Page]

    slice(0, 200).write.parquet(s"$src/f0")
    val pageSchema = implicitly[org.apache.spark.sql.Encoder[Page]].schema
    val stream = spark.readStream.schema(pageSchema)
      .option("recursiveFileLookup", "true").parquet(src).as[Page]
    val q = StreamingIngest.startCurated(stream, ex, cur, ckpt, numBuckets = 8)
    q.processAllAvailable()
    // first batch builds the corpus AND commits the dedup index (increment 0)
    assert(CuratedPipeline.indexState(cur) == Set(0L))
    val keptAfterB0 = CuratedPipeline.readKept(spark, cur).count()
    assert(keptAfterB0 > 0)

    // the second input lands atomically (written aside, then one directory
    // rename), as the file source requires: the running stream lists `src`
    // continuously, and a listing in the middle of a writer's job commit
    // would split f1 across two micro-batches
    val staged = tmp()
    slice(200, 400).write.parquet(s"$staged/f1")
    Files.move(Paths.get(staged, "f1"), Paths.get(src, "f1"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    q.processAllAvailable()
    q.stop()
    // second batch curated INCREMENTALLY: index increment 1, not a rebuild
    assert(CuratedPipeline.indexState(cur) == Set(0L, 1L))

    // the continuously-built corpus must equal the one-shot batch pipeline
    // over the union — kept rows AND cluster labels
    val ref = tmp()
    CuratedPipeline.runFromPages(spark, all.as[Page], ref,
      numBuckets = 8, snapshotGroups = 2, runId = "ref")
    def keptSet(dir: String) = CuratedPipeline.readKept(spark, dir)
      .select($"url", $"extracted_text").as[(String, String)].collect().sortBy(_._1).toSeq
    assert(keptSet(cur) == keptSet(s"$ref/curated"),
      "streamed incremental curation must equal the full batch recompute")
    def labelSet(dir: String) = CuratedPipeline.readLabels(spark, dir)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(labelSet(cur) == labelSet(s"$ref/curated"))

    // replaying an already-curated batch is a no-op (exactly-once end to end)
    assert(CuratedPipeline.curateBatch(spark, 0L, ex, cur, numBuckets = 8).isEmpty)

    // normalized schema: ingest_batch reads as long whether or not empty
    assert(StreamingIngest.readCommitted(spark, ex).schema("ingest_batch").dataType ==
      org.apache.spark.sql.types.LongType)

    // RE-CRAWL: batch 2 re-fetches 30 already-CURATED urls with DIFFERENT
    // content — first fetch wins, the corpus and labels must not change.
    // (Urls gated out originally — e.g. noindex — were never curated, so
    // first-wins rightly lets a clean re-crawl of those enter; the test
    // therefore re-crawls only urls that actually made it into curation.)
    val beforeRecrawl = keptSet(cur)
    val labelsBefore = labelSet(cur)
    val seenIds = CuratedPipeline.readLabels(spark, cur).select($"id")
      .unionByName(CuratedPipeline.readKept(spark, cur).select($"id")).distinct()
    val curatedUrls = all.withColumn("id", org.apache.spark.sql.functions.xxhash64($"url"))
      .join(seenIds, Seq("id"), "left_semi").select($"url").as[String].collect().toSet
    val origs = slice(0, 200).collect().filter(p => curatedUrls.contains(p.url)).take(30)
    val donors = slice(200, 400).collect().take(30)
    assert(origs.length == 30)
    val changed = origs.zip(donors)
      .map { case (orig, donor) => orig.copy(html = donor.html) }.toSeq
    StreamingIngest.commitBatch(ex, numBuckets = 8)(
      spark.createDataset(changed), 2L)
    CuratedPipeline.curateBatch(spark, 2L, ex, cur, numBuckets = 8)
    assert(keptSet(cur) == beforeRecrawl,
      "re-crawled urls must not re-enter the corpus (first-wins identity)")
    assert(labelSet(cur) == labelsBefore,
      "re-crawl must not touch the labels table")
    // and in particular no duplicate label rows per id
    val dupLabels = CuratedPipeline.readLabels(spark, cur)
      .groupBy("id").count().filter($"count" > 1).count()
    assert(dupLabels == 0)
  }

  test("an empty first micro-batch: the next batch curates to what it curates alone") {
    import spark.implicits._
    val ex = tmp(); val cur = tmp()
    // a landing segment without one HTTP-200 response extracts no page
    StreamingIngest.commitBatch(ex, numBuckets = 8)(spark.emptyDataset[Page], 0L)
    assert(Commit.lines(Commit.manifest(ex, "stream_manifest.jsonl")) ==
      Seq("""{"batch_id":0,"rows":0,"ok_rows":0}"""))
    assert(CuratedPipeline.curateBatch(spark, 0L, ex, cur, numBuckets = 8).isEmpty)
    assert(CuratedPipeline.indexState(cur).isEmpty, "an empty batch commits no index increment")
    StreamingIngest.commitBatch(ex, numBuckets = 8)(slice(0, 100), 1L)
    CuratedPipeline.curateBatch(spark, 1L, ex, cur, numBuckets = 8)

    val exAlone = tmp(); val curAlone = tmp()
    StreamingIngest.commitBatch(exAlone, numBuckets = 8)(slice(0, 100), 1L)
    CuratedPipeline.curateBatch(spark, 1L, exAlone, curAlone, numBuckets = 8)
    def keptSet(dir: String) = CuratedPipeline.readKept(spark, dir)
      .select($"url", $"extracted_text").as[(String, String)].collect().sortBy(_._1).toSeq
    assert(keptSet(curAlone).nonEmpty)
    assert(keptSet(cur) == keptSet(curAlone))
  }

  test("freshly-initialized table reads as EMPTY, not AnalysisException") {
    val out = tmp() // no batch ever written: no data/ dir, no manifest
    val committed = StreamingIngest.readCommitted(spark, out)
    assert(committed.count() == 0)
    // schema matches the real table so downstream code can union/select
    assert(committed.columns.contains("url") && committed.columns.contains("ingest_batch")
      && committed.columns.contains("part_bucket") && committed.columns.contains("warc_day"))
    assert(StreamingIngest.readAll(spark, out).count() == 0)
  }
}
