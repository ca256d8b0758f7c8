package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, xxhash64}

/** The `RunRelease` composition, call for call, with a span around each
  * public call: base curate, increment, `compactKept`, `vacuumKept`, and
  * the HEAD and as-of-0 WET release cuts. It lives in this package because
  * the increment's idempotence anti-join reads `CuratedPipeline.keptRaw`,
  * which is package-private.
  */
object ReleaseJob {
  final case class Result(kept: Long, headDigest: String, asOf0Digest: String)

  /** Job calls one run makes (the operations behind `failed_frac`). */
  val Calls = 6

  def run(spark: SparkSession, n: Long, outDir: String, cores: Int,
      tracer: perfbench.Tracer): Unit = {
    val basePages = ExtractStage.generatePages(spark, n * 2 / 3, partitions = cores * 2)
    tracer.span("curate.base") {
      CuratedPipeline.runFromPages(spark, basePages, outDir,
        numBuckets = 16, snapshotGroups = 2, runId = "rel-base",
        scrubPii = true, gopherGate = true)
    }
    val curated = s"$outDir/curated"

    tracer.span("curate.increment") {
      val morePages = ExtractStage.generatePages(spark, n, partitions = cores * 2)
        .filter(_.url.hashCode % 3 == 0)
      val committed = ExtractPipeline.readOutput(spark, s"$outDir/extract")
      val scrub = graft.functions.GraftFunctions.piiScrub(col("extracted_text"))
      val gop = graft.functions.GraftFunctions.gopherQuality(col("extracted_text"))
      val curatedIds = CuratedPipeline.keptRaw(spark, curated).select(col("id"))
      val batch2 = ExtractStage.run(morePages).toDF()
        .filter(col("success"))
        .join(committed.select("url"), Seq("url"), "left_anti")
        .withColumn("id", xxhash64(col("url")))
        .join(curatedIds, Seq("id"), "left_anti")
        .filter(gop.getField("pass"))
        .withColumn("__scrub", scrub)
        .withColumn("extracted_text", col("__scrub.clean"))
        .withColumn("pii_redactions",
          col("__scrub.n_emails") + col("__scrub.n_ips") + col("__scrub.n_phones"))
        .drop("__scrub")
      CuratedPipeline.curateIncrement(spark, batch2, curated,
        idCol = "id", textCol = "extracted_text", numBuckets = 16, runId = "rel-inc")
    }

    tracer.span("curate.compact")(CuratedPipeline.compactKept(spark, curated, numBuckets = 16))
    tracer.span("curate.vacuum")(CuratedPipeline.vacuumKept(spark, curated))

    tracer.span("export.release")(WetExport.writeRelease(spark, curated, s"$outDir/release-head"))
    tracer.span("export.release")(WetExport.writeRelease(spark, curated, s"$outDir/release-asof0",
      asOfIncrement = Some(0L)))
  }

  /** Kept rows and the digests of both release cuts, as `RunRelease` prints them. */
  def check(spark: SparkSession, outDir: String): Result =
    Result(CuratedPipeline.readKept(spark, s"$outDir/curated").count(),
      releaseDigest(s"$outDir/release-head"), releaseDigest(s"$outDir/release-asof0"))

  /** `RunRelease`'s digest over the released WET records. */
  def releaseDigest(dir: String): String = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.wet.gz")).sortBy(_.getName)
    val h = files.flatMap { f =>
      val in = new java.io.FileInputStream(f)
      try graft.core.warc.WarcReader.records(in)
        .map(r => scala.util.hashing.MurmurHash3.stringHash(
          r.targetUri + "\u0000" + new String(r.body, java.nio.charset.StandardCharsets.UTF_8)).toLong)
        .toList
      finally in.close()
    }.foldLeft(0L)(_ ^ _)
    java.lang.Long.toHexString(h).toUpperCase(java.util.Locale.ROOT)
  }
}
