package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SeenUrlsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("seen-urls-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bloom-routed frontier check equals the plain anti-join exactly") {
    import spark.implicits._
    val out = graft.TestDirs.create("graft-seen").toString
    // commit 600 pages, then present a batch of 1000 (600 re-crawls + 400 new)
    val committed = ExtractStage.generatePages(spark, 600, partitions = 8)
    ExtractPipeline.run(spark, committed, out, numBuckets = 8, snapshotGroups = 2, runId = "seen")
    val batch = ExtractStage.generatePages(spark, 1000, partitions = 8).toDF()

    val bf = SeenUrls.build(spark, out, expectedItems = 2000, fpp = 0.01)
    // a bloom filter NEVER false-negatives: every committed url must probe true
    committed.toDF().select("url").as[String].collect()
      .foreach(u => assert(bf.mightContainString(u), s"false negative: $u"))

    val viaBloom = SeenUrls.filterNew(spark, out, batch)
      .select("url").as[String].collect().toSet
    val viaAntiJoin = batch.join(
      ExtractPipeline.readOutput(spark, out).select("url").distinct(),
      Seq("url"), "left_anti").select("url").as[String].collect().toSet
    assert(viaBloom == viaAntiJoin, "sketch routing must not change the answer")
    assert(viaBloom.size == 400)

    // the routing itself: new urls that pass the filter gate skip the
    // corpus entirely; the confirmed slice is small (fpp-bounded, with
    // slack for a 400-url sample)
    val (definiteNew, maybeSeen) = SeenUrls.splitByFilter(spark, bf, batch)
    assert(definiteNew.count() + maybeSeen.count() == 1000)
    val falsePositives = maybeSeen.count() - 600 // true re-crawls
    assert(falsePositives <= 40, s"fpp blowout: $falsePositives of 400")

    // persistence round-trip: a fresh load answers identically
    val loaded = SeenUrls.load(spark, out).get
    committed.toDF().select("url").as[String].collect()
      .foreach(u => assert(loaded.mightContainString(u)))
  }

  test("a filter built before the latest commit is stale: load refuses it, filterNew rebuilds") {
    import spark.implicits._
    val out = graft.TestDirs.create("graft-seen-stale").toString
    val pages = ExtractStage.generatePages(spark, 600, partitions = 8)
    ExtractPipeline.run(spark, pages, out, numBuckets = 8, snapshotGroups = 2, runId = "s")
    val mf = java.nio.file.Paths.get(out, "_manifest", "manifest.jsonl")
    val lines = java.nio.file.Files.readAllLines(mf)
    assert(lines.size == 2)

    // reproduce the half-committed state: roll the manifest back to the
    // first snapshot AND delete the second group's bucket data (as a kill
    // between the two commits would have left it), build the filter there,
    // then let the run RESUME the remaining buckets — the filter now
    // predates the resumed commit and misses every one of its urls
    java.nio.file.Files.write(mf, (lines.get(0) + "\n").getBytes("UTF-8"))
    val done = ExtractPipeline.committedBuckets(out)
    (0 until 8).filterNot(done).foreach { b =>
      val dir = java.nio.file.Paths.get(out, "data", s"part_bucket=$b")
      if (java.nio.file.Files.exists(dir))
        java.nio.file.Files.walk(dir)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
    }
    val stale = SeenUrls.build(spark, out)
    ExtractPipeline.run(spark, pages, out, numBuckets = 8, snapshotGroups = 2, runId = "s2")
    val missed = ExtractPipeline.readOutput(spark, out).select("url").as[String]
      .collect().count(u => !stale.mightContainString(u))
    assert(missed > 0, "test needs urls the stale filter has never seen")

    // the staleness token refuses the persisted filter outright…
    assert(SeenUrls.load(spark, out).isEmpty,
      "a filter from before the latest commit must not load")
    // …so filterNew rebuilds and still equals the plain anti-join: with
    // the stale filter those urls would route to definitely-new and skip
    // the confirmation entirely (the ADVICE false-negative escape)
    val batch = ExtractStage.generatePages(spark, 1000, partitions = 8).toDF()
    val viaBloom = SeenUrls.filterNew(spark, out, batch)
      .select("url").as[String].collect().toSet
    val viaAntiJoin = batch.join(
      ExtractPipeline.readOutput(spark, out).select("url").distinct(),
      Seq("url"), "left_anti").select("url").as[String].collect().toSet
    assert(viaBloom == viaAntiJoin)
  }

  test("CDX-routed confirmation equals the plain anti-join (point probes, no corpus scan)") {
    import spark.implicits._
    val out = graft.TestDirs.create("graft-seen-cdx").toString
    val warcDir = graft.TestDirs.create("graft-seen-warc").toString
    val idxDir = graft.TestDirs.create("graft-seen-idx").toString
    val committed = ExtractStage.generatePages(spark, 600, partitions = 8)
    ExtractPipeline.run(spark, committed, out, numBuckets = 8, snapshotGroups = 2, runId = "c")
    // the corpus's own WARC segments → its CDX index (same url universe),
    // coverage DECLARED — filterNew only trusts a current declaration
    WarcWriter.write(spark, committed, warcDir)
    CdxIndex.build(spark, s"$warcDir/part-*", idxDir, shards = 4)
    SeenUrls.markCdxCovered(spark, out, idxDir)

    val batch = ExtractStage.generatePages(spark, 1000, partitions = 8).toDF()
    val viaCdx = SeenUrls.filterNew(spark, out, batch, cdxDir = Some(idxDir))
      .select("url").as[String].collect().toSet
    val viaAntiJoin = batch.join(
      ExtractPipeline.readOutput(spark, out).select("url").distinct(),
      Seq("url"), "left_anti").select("url").as[String].collect().toSet
    assert(viaCdx == viaAntiJoin, "CDX routing must not change the answer")
    assert(viaCdx.size == 400)

    // STALE index: more rows commit after the coverage declaration. The
    // index now misses urls that ARE committed — if the lookup still
    // decided, those urls would be re-admitted as new (the false-negative
    // class the token exists for). filterNew must route around the index
    // and still equal the plain anti-join.
    val more = ExtractStage.generatePages(spark, 800, partitions = 8)
      .filter(_.url.hashCode % 2 == 0)
    ExtractPipeline.run(spark, more, out, numBuckets = 8, snapshotGroups = 2, runId = "c2")
    val batch2 = ExtractStage.generatePages(spark, 1200, partitions = 8).toDF()
    val viaStaleCdx = SeenUrls.filterNew(spark, out, batch2, cdxDir = Some(idxDir))
      .select("url").as[String].collect().toSet
    val viaAntiJoin2 = batch2.join(
      ExtractPipeline.readOutput(spark, out).select("url").distinct(),
      Seq("url"), "left_anti").select("url").as[String].collect().toSet
    assert(viaStaleCdx == viaAntiJoin2,
      "a stale CDX index must fall back to the anti-join, not decide")
    // re-index + re-declare → the point-probe path is trusted again
    val warcDir2 = graft.TestDirs.create("graft-seen-warc2").toString
    val idxDir2 = graft.TestDirs.create("graft-seen-idx2").toString
    WarcWriter.write(spark, ExtractStage.generatePages(spark, 600, partitions = 8)
      .union(more), warcDir2)
    CdxIndex.build(spark, s"$warcDir2/part-*", idxDir2, shards = 4)
    SeenUrls.markCdxCovered(spark, out, idxDir2)
    val viaFreshCdx = SeenUrls.filterNew(spark, out, batch2, cdxDir = Some(idxDir2))
      .select("url").as[String].collect().toSet
    assert(viaFreshCdx == viaAntiJoin2)
  }
}
