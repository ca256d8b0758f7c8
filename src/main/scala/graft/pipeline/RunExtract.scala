package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The flagship spark-submit-shaped job: generate (or read) a pages table,
  * run the resumable extract pipeline, print lineage + output summary.
  *
  * Usage: RunExtract [nPages] [outDir] [cores]
  */
object RunExtract {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000L
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-extract-out"
    val cores = if (args.length > 2) args(2) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages = ExtractStage.generatePages(spark, n, partitions = cores.toInt * 2)
    val t0 = System.nanoTime()
    val lineage = ExtractPipeline.run(spark, pages, outDir, numBuckets = 32,
      snapshotGroups = 4, runId = s"run-$n")
    val sec = (System.nanoTime() - t0) / 1e9

    val out = ExtractPipeline.readOutput(spark, outDir)
    val total = out.count()
    val ok = out.filter("success").count()
    val products = out.selectExpr("sum(n_products)").first().getLong(0)
    println(f"[extract] pages=$total ok=$ok products=$products " +
      f"processedThisRun=${lineage.map(_.input_rows).sum} " +
      f"buckets=${ExtractPipeline.committedBuckets(outDir).size} " +
      f"wall=$sec%.1fs throughput=${if (sec > 0) lineage.map(_.input_rows).sum / sec else 0}%.0f docs/sec")
    // per-bucket skew: one task commits one bucket, so a max far above the
    // median is a hot bucket, measured before anyone rebalances
    val ms = lineage.map(_.ms).sorted
    if (ms.nonEmpty)
      println(s"[extract] bucketMs max=${ms.last} median=${ms(ms.size / 2)} buckets=${ms.size}")
    spark.stop()
  }
}
