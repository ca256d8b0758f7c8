package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import org.apache.spark.util.sketch.BloomFilter

/** The crawl-frontier seen-set: "which of this batch's URLs are new?"
  *
  * At 10^12 committed documents the exact answer is an anti-join against
  * the whole corpus — correct but expensive to run per ingest batch. The
  * standard discipline (every large crawler's frontier) is a Bloom-filter
  * PRE-FILTER with an exact CONFIRMATION:
  *
  *   - urls the filter has definitely never seen (no false negatives by
  *     construction) are new, full stop — no corpus access at all;
  *   - the `mightContain` remainder — the true re-crawls plus an ~fpp
  *     sliver of false positives — is the only slice that pays an exact
  *     confirmation. With a CDX index over the corpus the confirmation is
  *     a batched POINT PROBE ([[CdxIndex.lookupMany]]): the sliver's owner
  *     shards are the only files opened, so corpus-side I/O really is
  *     O(sliver), not a full url-column scan. Without an index (or for a
  *     sliver too large to collect) it falls back to the plain anti-join.
  *
  * The result is EXACTLY the anti-join semantics (the sketch and the index
  * only route work, they never decide). The filter itself is mergeable
  * (one per partition, OR-folded), KBs–GBs for billions of keys at 1% fpp,
  * and persists next to the table manifest WITH a validity token (the
  * committed snapshot count at build time): a filter built before the
  * latest commit would false-negative on the newly committed urls and
  * silently re-admit them, so a stale filter is rebuilt, never trusted.
  */
object SeenUrls {

  /** How far the sliver may be collected to the driver for CDX point
    * probes; beyond this the exact anti-join is the cheaper confirmation
    * anyway (the sliver is no longer a sliver).
    */
  val MaxCdxProbe = 20000

  private def bloomPath(outDir: String) = new Path(s"$outDir/_seen/bloom.bin")
  private def metaPath(outDir: String) = new Path(s"$outDir/_seen/bloom.meta")

  /** The filter's validity token: committed snapshot count of the extract
    * table. Any commit after the build advances it, invalidating the
    * filter (new urls would be invisible to it — false negatives, the one
    * failure a Bloom filter must never have).
    */
  private def snapshotToken(outDir: String): Long =
    ExtractPipeline.snapshotHistory(outDir).size.toLong

  /** Build the filter from the committed table's urls and persist it with
    * its validity token. Mergeable build: Spark's `stat.bloomFilter`
    * aggregates per-partition sketches, so the corpus is scanned once, url
    * column only. Sizing: `expectedItems <= 0` (the default) sizes from
    * the committed url count with 25% headroom — a fixed default would
    * saturate on any corpus past it and degrade fpp toward 1, silently
    * sending every url through the confirmation path.
    */
  def build(spark: SparkSession, outDir: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): BloomFilter = {
    val token = snapshotToken(outDir)
    val urls = ExtractPipeline.readOutput(spark, outDir).select("url")
    val items =
      if (expectedItems > 0) expectedItems
      else math.max(1L << 16, urls.count() * 5 / 4)
    val bf = urls.stat.bloomFilter("url", items, fpp)
    val path = bloomPath(outDir)
    val fs = path.getFileSystem(LocalFs.hadoopConf(spark))
    val out = fs.create(path, true)
    try bf.writeTo(out) finally out.close()
    // token written AFTER the filter: a crash between the two leaves a
    // token-less filter that load() treats as stale (rebuild), never as
    // valid
    val mout = fs.create(metaPath(outDir), true)
    try mout.write(s"""{"snapshots":$token,"expected":$items}""".getBytes("UTF-8"))
    finally mout.close()
    bf
  }

  /** Load the persisted filter — None if never built OR built before the
    * table's latest committed snapshot (stale filters false-negative on
    * newly committed urls; callers rebuild).
    */
  def load(spark: SparkSession, outDir: String): Option[BloomFilter] = {
    val path = bloomPath(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path) || !fs.exists(metaPath(outDir))) return None
    val in = fs.open(metaPath(outDir))
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val builtAt = Commit.longField(meta, "snapshots").getOrElse(-1L)
    if (builtAt != snapshotToken(outDir)) None // stale: commits advanced
    else {
      val bin = fs.open(path)
      try Some(BloomFilter.readFrom(bin)) finally bin.close()
    }
  }

  private def coversPath(cdxDir: String) = new Path(s"$cdxDir/_covers.json")

  /** Declare that the CDX index at `cdxDir` covers the committed corpus at
    * `outDir` AS OF NOW — written after (re)indexing the corpus's
    * segments. [[filterNew]] trusts the index only while this token still
    * matches the corpus's snapshot count: a commit after the declaration
    * invalidates it, and confirmation falls back to the exact anti-join
    * (the index must never DECIDE from stale coverage — a missed lookup
    * on a post-index url would re-admit committed urls, the same
    * false-negative class the Bloom token guards against).
    */
  def markCdxCovered(spark: SparkSession, outDir: String, cdxDir: String): Unit = {
    val p = coversPath(cdxDir)
    val fs = p.getFileSystem(LocalFs.hadoopConf(spark))
    val out = fs.create(p, true)
    try out.write(s"""{"snapshots":${snapshotToken(outDir)}}""".getBytes("UTF-8"))
    finally out.close()
  }

  private def cdxCoverageToken(spark: SparkSession, cdxDir: String): Long = {
    val p = coversPath(cdxDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return -1L
    val in = fs.open(p)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    Commit.longField(meta, "snapshots").getOrElse(-1L)
  }

  /** Split a batch into (definitely-new, maybe-seen) by the sketch. The
    * filter is broadcast once; the predicate is a per-row probe.
    */
  def splitByFilter(spark: SparkSession, bf: BloomFilter, batch: DataFrame,
      urlCol: String = "url"): (DataFrame, DataFrame) = {
    val bfBc = spark.sparkContext.broadcast(bf)
    val might = udf((u: String) => u != null && bfBc.value.mightContainString(u))
    (batch.filter(!might(col(urlCol))), batch.filter(might(col(urlCol))))
  }

  /** The full frontier check: rows of `batch` whose url is NOT in the
    * committed table — bloom-routed, exactly equal to the plain anti-join
    * (SeenUrlsSpec proves the equality; the q84 oracle pins it against
    * DuckDB).
    *
    * @param cdxDir a CDX index over the committed corpus (built by
    *        [[CdxIndex]] from the corpus's WARC segments, coverage
    *        declared via [[markCdxCovered]]). When given, CURRENT (its
    *        coverage token matches the corpus's snapshot count — a stale
    *        index is routed around, never trusted), and the maybe-seen
    *        sliver is small, confirmation runs as batched index point
    *        probes — opening only the sliver's owner shards — instead of
    *        scanning the corpus url column. SeenUrlsSpec proves
    *        CDX-routed ≡ plain anti-join, including the stale-index
    *        fallback.
    */
  def filterNew(spark: SparkSession, outDir: String, batch: DataFrame,
      urlCol: String = "url", cdxDir: Option[String] = None): DataFrame = {
    val bf = load(spark, outDir).getOrElse(build(spark, outDir))
    val (definiteNew, maybeSeen) = splitByFilter(spark, bf, batch, urlCol)
    val confirmedNew = cdxDir match {
      case Some(idx) if cdxCoverageToken(spark, idx) == snapshotToken(outDir) =>
        // the sliver is ~fpp×batch + true re-crawls: small enough to
        // collect and point-probe. A CDX urlkey is SURT-canonicalized
        // (many urls, one key), so equality is confirmed on the entry's
        // original url, never on the key alone.
        val sliver = maybeSeen.select(col(urlCol)).distinct()
          .limit(MaxCdxProbe + 1).collect().map(_.getString(0)).toSeq
        if (sliver.size > MaxCdxProbe)
          maybeSeen.join(committedUrls(spark, outDir, urlCol), Seq(urlCol), "left_anti")
        else {
          val seen = CdxIndex.lookupMany(spark, idx, sliver)
            .select(col("url").as(urlCol)).distinct()
          maybeSeen.join(seen, Seq(urlCol), "left_anti")
        }
      case _ => // no index, or its coverage predates the latest commit
        maybeSeen.join(committedUrls(spark, outDir, urlCol), Seq(urlCol), "left_anti")
    }
    definiteNew.unionByName(confirmedNew)
  }

  private def committedUrls(spark: SparkSession, outDir: String, urlCol: String) =
    ExtractPipeline.readOutput(spark, outDir).select(col("url").as(urlCol)).distinct()
}
