package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}

/** The composed RELEASE job, spark-submit-shaped — the full round-5 path
  * a corpus distributor runs: pages → scrubbed+gated curated corpus →
  * a second ingest batch folded in as an INCREMENT → kept-table
  * compaction → WET release cut from the kept corpus with a checksum
  * manifest, plus an as-of release pinned to the base increment to prove
  * historical cuts stay reproducible after later data lands.
  *
  * Prints one summary line with order-independent digests of the HEAD
  * release and the as-of release (computed from the RELEASED WET bytes,
  * not the table), so a rerun — or a killed+resumed run — can be
  * compared end to end.
  *
  * Usage: RunRelease [nPages] [outDir] [cores]
  */
object RunRelease {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000L
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-release-out"
    val cores = if (args.length > 2) args(2) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-release")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()

    // one gate for the base build and the increment
    val (gopherGate, scrubPii) = (true, true)
    // base build: first 2/3 of the corpus, PII-scrubbed, Gopher-gated
    val basePages = ExtractStage.generatePages(spark, n * 2 / 3, partitions = cores.toInt * 2)
    CuratedPipeline.runFromPages(spark, basePages, outDir,
      numBuckets = 16, snapshotGroups = 2, runId = "rel-base",
      scrubPii = scrubPii, gopherGate = gopherGate)
    val curated = s"$outDir/curated"

    // increment: the remaining third arrives later
    val morePages = ExtractStage.generatePages(spark, n, partitions = cores.toInt * 2)
      .filter(_.url.hashCode % 3 == 0)
    increment(spark, morePages, outDir, numBuckets = 16, runId = "rel-inc",
      gopherGate = gopherGate, scrubPii = scrubPii)

    // maintenance: fold base + increment into a fresh compact layout and
    // drop superseded versions (retention guarded by vacuumKept itself)
    val compactV = CuratedPipeline.compactKept(spark, curated, numBuckets = 16)
    CuratedPipeline.vacuumKept(spark, curated)

    // the artifacts: HEAD release and a release pinned to the base cut
    val headDir = s"$outDir/release-head"
    val baseDir = s"$outDir/release-asof0"
    val nHead = WetExport.writeRelease(spark, curated, headDir)
    val nBase = WetExport.writeRelease(spark, curated, baseDir, asOfIncrement = Some(0L))

    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[release] pages=$n kept=${CuratedPipeline.readKept(spark, curated).count()} " +
      f"compactV=$compactV headRecords=$nHead asOf0Records=$nBase " +
      f"headDigest=${WetExport.digest(headDir)} asOf0Digest=${WetExport.digest(baseDir)} wall=$sec%.1fs")
    spark.stop()
  }

  /** Fold a later batch of `pages` into the curated corpus under
    * `outDir` through the base build's own gate: extract, drop urls the
    * base extract table already holds, [[CuratedPipeline.admit]], scrub
    * when `scrubPii`, [[CuratedPipeline.fold]]. `gopherGate` and
    * `scrubPii` are the only settings of `runFromPages`' gate, so with the
    * base build's values base + increment equals one build over both.
    * Idempotent: a rerun folds an empty delta.
    */
  def increment(spark: SparkSession, pages: Dataset[Page], outDir: String,
      numBuckets: Int, runId: String,
      gopherGate: Boolean, scrubPii: Boolean): Seq[LineageRow] = {
    val committed = ExtractPipeline.readOutput(spark, s"$outDir/extract").select("url")
    val admitted = CuratedPipeline.admit(
      ExtractStage.run(pages).toDF().join(committed, Seq("url"), "left_anti"),
      gopherGate = gopherGate)
    CuratedPipeline.fold(spark, if (scrubPii) CuratedPipeline.scrub(admitted) else admitted,
      s"$outDir/curated", numBuckets, runId)
  }
}
