package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The CONTINUOUS deployment shape, spark-submit-shaped and kill-safe:
  * WARC segments land in a directory → a Structured Streaming source
  * parses them → each micro-batch extract-commits exactly once → the
  * curated kept corpus grows INCREMENTALLY against the persisted band-key
  * index ([[StreamingIngest.startCurated]]).
  *
  * First invocation stages the deterministic corpus as real `.warc.gz`
  * segment files (via [[WarcWriter]] — the same bytes a crawler hands
  * over); every invocation then starts the stream against the landing dir
  * and drains whatever is unprocessed. A rerun is a no-op (stream
  * checkpoint + both commit protocols); a `kill -9` mid-run resumes from
  * the checkpoint and replays its torn batch idempotently — the digest
  * printed at the end matches a clean run's byte-for-byte.
  *
  * Usage: RunContinuous [nPages] [nSegments] [outDir] [cores]
  */
object RunContinuous {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000L
    val nSegments = if (args.length > 1) args(1).toInt else 4
    val outDir = if (args.length > 2) args(2) else "/tmp/graft-continuous-out"
    val cores = if (args.length > 3) args(3) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-continuous")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // stage the crawl ONCE: n deterministic pages split across nSegments
    // real .warc.gz files (skipped if already staged, so reruns/resumes
    // see the identical landing dir)
    val landing = s"$outDir/landing"
    val staged = new java.io.File(landing)
    if (!staged.exists() || staged.listFiles() == null || staged.listFiles().isEmpty) {
      val pages = ExtractStage.generatePages(spark, n, partitions = nSegments)
      WarcWriter.write(spark, pages.as[Page], landing)
    }

    val t0 = System.nanoTime()
    // one landing file per micro-batch → a multi-batch incremental run,
    // not one giant batch (the deployment shape under test)
    val stream = WarcSource.readPagesStream(spark, landing,
      maxFilesPerTrigger = Some(1))
    val q = StreamingIngest.startCurated(stream, s"$outDir/extract",
      s"$outDir/curated", s"$outDir/ckpt", numBuckets = 32)
    q.processAllAvailable()
    q.stop()
    val sec = (System.nanoTime() - t0) / 1e9

    val kept = CuratedPipeline.readKept(spark, s"$outDir/curated")
    val nKept = kept.count()
    val digest = kept.selectExpr(
      "xxhash64(url, extracted_text, invoice_number, cast(n_products AS STRING)) AS h")
      .selectExpr("conv(cast(aggregate(collect_list(h), 0L, (a, x) -> a ^ x) AS STRING), 10, 16) AS d")
      .first().getString(0)
    println(f"[continuous] pages=$n segments=$nSegments kept=$nKept " +
      f"batches=${StreamingIngest.committedBatches(s"$outDir/extract").size} " +
      f"increments=${CuratedPipeline.indexState(s"$outDir/curated").size} " +
      f"digest=$digest wall=$sec%.1fs")
    spark.stop()
  }
}
