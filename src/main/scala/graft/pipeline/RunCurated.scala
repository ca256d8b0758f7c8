package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The composed training-data job, spark-submit-shaped: pages → committed
  * extract table → quality gate → dedup → committed KEPT corpus. Prints a
  * summary plus an order-independent digest of the kept table so a clean
  * run and a killed+resumed run can be compared byte-for-byte.
  *
  * Usage: RunCurated [nPages] [outDir] [cores]
  */
object RunCurated {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000L
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-curated-out"
    val cores = if (args.length > 2) args(2) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-curated")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages = ExtractStage.generatePages(spark, n, partitions = cores.toInt * 2)
    val t0 = System.nanoTime()
    val (el, cl) = CuratedPipeline.runFromPages(spark, pages, outDir,
      numBuckets = 32, snapshotGroups = 4, runId = s"cur-$n")
    val sec = (System.nanoTime() - t0) / 1e9

    val kept = CuratedPipeline.readKept(spark, s"$outDir/curated")
    val nKept = kept.count()
    // order-independent digest: xor of per-row hashes over the columns that
    // pin identity + content
    val digest = kept.selectExpr(
      "xxhash64(url, extracted_text, invoice_number, cast(n_products AS STRING)) AS h")
      .selectExpr("conv(cast(aggregate(collect_list(h), 0L, (a, x) -> a ^ x) AS STRING), 10, 16) AS d")
      .first().getString(0)
    println(f"[curate] pages=$n extractedThisRun=${el.map(_.input_rows).sum} " +
      f"kept=$nKept keptThisRun=${cl.map(_.input_rows).sum} " +
      f"extractBuckets=${ExtractPipeline.committedBuckets(s"$outDir/extract").size} " +
      f"curatedBuckets=${ExtractPipeline.committedBuckets(s"$outDir/curated").size} " +
      f"digest=$digest wall=$sec%.1fs")
    // per-bucket skew of the curate stage, as RunExtract reports it
    val ms = cl.map(_.ms).sorted
    if (ms.nonEmpty)
      println(s"[curate] bucketMs max=${ms.last} median=${ms(ms.size / 2)} buckets=${ms.size}")
    spark.stop()
  }
}
