package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

// top-level for Spark encoder derivation (local case classes lack TypeTags)
final case class CurDoc(id: Long, url: String, warc_ts: java.sql.Timestamp,
    text: String, src: String)

class CuratedPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("curated-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String =
    graft.TestDirs.create("graft-curated-spec").toString

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** Known duplicate structure: two exact-dup clusters, two unique long
    * docs, two short (<3 words, unshingleable) docs.
    */
  private def corpus() = {
    import spark.implicits._
    Seq(
      CurDoc(10L, "u10", ts("2024-03-01 10:00:00"), "the quick brown fox jumps over the lazy dog", "a"),
      CurDoc(11L, "u11", ts("2024-03-01 11:00:00"), "the quick brown fox jumps over the lazy dog", "a"),
      CurDoc(12L, "u12", ts("2024-03-02 09:00:00"), "the quick brown fox jumps over the lazy dog", "b"),
      CurDoc(20L, "u20", ts("2024-03-01 10:00:00"), "pack my box with five dozen liquor jugs today", "a"),
      CurDoc(21L, "u21", ts("2024-03-03 10:00:00"), "pack my box with five dozen liquor jugs today", "b"),
      CurDoc(30L, "u30", ts("2024-03-01 10:00:00"), "sphinx of black quartz judge my vow quickly now", "a"),
      CurDoc(31L, "u31", ts("2024-03-02 10:00:00"), "how vexingly quick daft zebras jump around here", "b"),
      CurDoc(40L, "u40", ts("2024-03-01 10:00:00"), "hi", "a"),
      CurDoc(41L, "u41", ts("2024-03-02 10:00:00"), "ok then", "b")
    ).toDF()
  }

  test("curate keeps the min-id canonical per cluster plus short singletons") {
    import spark.implicits._
    val out = tmpDir()
    val lineage = CuratedPipeline.run(spark, corpus(), out,
      numBuckets = 8, snapshotGroups = 2, runId = "keep")
    val kept = CuratedPipeline.readKept(spark, out)
    val ids = kept.select($"id").as[Long].collect().sorted
    assert(ids.sameElements(Array(10L, 20L, 30L, 31L, 40L, 41L)),
      s"kept set wrong: ${ids.mkString(",")}")
    // lineage accounts for exactly the kept rows
    assert(lineage.map(_.input_rows).sum == 6)
    assert(lineage.forall(l => l.fail_rows == 0 && l.status == "committed"))
    // passthrough columns and layout survive
    assert(kept.columns.toSet ==
      Set("id", "url", "warc_ts", "text", "src", "curate_inc", "part_bucket", "warc_day"))
    // base build lands wholesale under the increment-0 prefix; appends from
    // later increments get their own prefix and never rewrite it
    val incDirs = new java.io.File(s"$out/data").listFiles().filter(_.isDirectory)
    assert(incDirs.map(_.getName).toSeq == Seq("curate_inc=0"))
    assert(incDirs.head.listFiles().filter(_.isDirectory)
      .forall(_.getName.startsWith("part_bucket=")))

    // kept corpus is dedup-closed: re-clustering it finds only singletons
    // (two canonicals can never band-collide — a collision would have made
    // them one component in the original clustering)
    val relab = Dedup.minhashClusterLabels(kept, "id", "text")
      .as[(Long, Long)].collect()
    assert(relab.forall { case (id, comp) => id == comp },
      s"kept corpus must have no duplicate clusters, got ${relab.mkString(",")}")
  }

  test("canonical-aware curate keeps one doc per site-declared group") {
    import spark.implicits._
    val out = tmpDir()
    val docs = Seq(
      (10L, "u10", ts("2024-03-01 10:00:00"), "the quick brown fox jumps over the lazy dog", "https://e.com/x"),
      (11L, "u11", ts("2024-03-01 11:00:00"), "pack my box with five dozen liquor jugs today", "https://e.com/x"),
      (20L, "u20", ts("2024-03-02 10:00:00"), "sphinx of black quartz judge my vow quickly now", null),
      (30L, "u30", ts("2024-03-03 10:00:00"), "hi", "https://e.com/x"),
      (40L, "u40", ts("2024-03-04 10:00:00"), "ok", null)
    ).toDF("id", "url", "warc_ts", "text", "canonical")
    CuratedPipeline.run(spark, docs, out, numBuckets = 8, snapshotGroups = 2,
      runId = "canon", canonicalCol = Some("canonical"))
    val ids = CuratedPipeline.readKept(spark, out).select($"id").as[Long].collect().sorted
    // 10/11/30 share a canonical (different texts, one short) → keep 10;
    // 20 content-unique; 40 short and keyless → trivially kept
    assert(ids.sameElements(Array(10L, 20L, 40L)), s"got ${ids.mkString(",")}")
  }

  test("robots noindex pages never reach the kept corpus") {
    import spark.implicits._
    val n = 600L
    val pages = ExtractStage.generatePages(spark, n, partitions = 8)
    // the generator emits ~1/20 noindex pages — make sure this corpus has some
    val extractProbe = ExtractStage.run(pages).filter($"noindex").count()
    assert(extractProbe > 0, "generator corpus must contain noindex pages for this test")

    val out = tmpDir()
    CuratedPipeline.runFromPages(spark, pages, out,
      numBuckets = 8, snapshotGroups = 2, runId = "robots")
    val kept = CuratedPipeline.readKept(spark, s"$out/curated")
    assert(kept.filter($"noindex").count() == 0,
      "the gate must drop every noindex page before dedup")
  }

  test("site-declared canonical groups collapse to one kept doc in the composed pipeline") {
    import spark.implicits._
    val n = 600L
    val pages = ExtractStage.generatePages(spark, n, partitions = 8)
    val out = tmpDir()
    CuratedPipeline.runFromPages(spark, pages, out,
      numBuckets = 8, snapshotGroups = 2, runId = "canon-e2e")
    val extracted = ExtractPipeline.readOutput(spark, s"$out/extract")
    // the generator corpus must actually contain a multi-member canonical
    // group that survives the gates, or this test proves nothing
    val groups = extracted
      .filter($"success" && !$"noindex" && trim($"canonical_url") =!= "")
      .groupBy($"canonical_url").count().filter($"count" > 1).count()
    assert(groups > 0, "corpus must contain a shared canonical group")
    val dupKept = CuratedPipeline.readKept(spark, s"$out/curated")
      .filter(trim($"canonical_url") =!= "")
      .groupBy($"canonical_url").count().filter($"count" > 1).count()
    assert(dupKept == 0,
      "no two kept docs may declare the same canonical target")
  }

  // ---- incremental curation: increment ≡ full recompute -------------------

  private def keptState(out: String) = {
    import spark.implicits._
    CuratedPipeline.readKept(spark, out)
      .select($"id", $"text").as[(Long, String)].collect().sortBy(_._1).toSeq
  }
  private def labelState(out: String) = {
    import spark.implicits._
    CuratedPipeline.readLabels(spark, out)
      .as[(Long, Long)].collect().sorted.toSeq
  }

  /** `releaseAsOf(out, k)` as (kept ids, labels), both sorted. */
  private def releaseCut(out: String, k: Long) = {
    import spark.implicits._
    val (kept, labels) = CuratedPipeline.releaseAsOf(spark, out, k)
    (kept.select($"id").as[Long].collect().sorted.toSeq,
      labels.as[(Long, Long)].collect().sorted.toSeq)
  }

  test("curateIncrement(b2) after run(b1) equals run(b1 ∪ b2): appends, drops, logical demotion") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "pack my box with five dozen liquor jugs today"
    val textC = "sphinx of black quartz judge my vow quickly now"
    val textD = "how vexingly quick daft zebras jump around here"
    val textE = "bright vixens jump while dozy fowl quack loudly"
    val b1 = Seq(
      CurDoc(10L, "u10", ts("2024-03-01 10:00:00"), textA, "a"),
      CurDoc(11L, "u11", ts("2024-03-01 11:00:00"), textA, "a"), // dup of 10
      CurDoc(20L, "u20", ts("2024-03-02 09:00:00"), textB, "a"),
      CurDoc(30L, "u30", ts("2024-03-01 10:00:00"), textC, "a"),
      // unique warc_day: its (bucket, day) partition must VANISH on demotion
      CurDoc(40L, "u40", ts("2024-07-19 10:00:00"), textD, "a"),
      CurDoc(41L, "u41", ts("2024-03-02 10:00:00"), "hi", "a")).toDF()
    val b2 = Seq(
      CurDoc(5L, "u05", ts("2024-03-05 10:00:00"), textD, "b"),  // smaller id → demotes 40
      CurDoc(50L, "u50", ts("2024-03-05 11:00:00"), textB, "b"), // larger-id dup → dropped
      CurDoc(60L, "u60", ts("2024-03-05 12:00:00"), textE, "b"), // new unique → kept
      CurDoc(61L, "u61", ts("2024-03-05 13:00:00"), "yo", "b")).toDF() // short → kept

    val outA = tmpDir(); val outB = tmpDir()
    CuratedPipeline.run(spark, b1, outA, numBuckets = 8, snapshotGroups = 2, runId = "b1")
    assert(keptState(outA).map(_._1) == Seq(10L, 20L, 30L, 40L, 41L))
    val lineage = CuratedPipeline.curateIncrement(spark, b2, outA,
      numBuckets = 8, runId = "b2")
    assert(lineage.nonEmpty)
    CuratedPipeline.run(spark, b1.unionByName(b2), outB,
      numBuckets = 8, snapshotGroups = 2, runId = "full")

    assert(keptState(outA) == keptState(outB),
      "incrementally curated kept corpus must equal the full recompute")
    assert(keptState(outA).map(_._1) == Seq(5L, 10L, 20L, 30L, 41L, 60L, 61L))
    // the increment's appends landed under their OWN prefix — the O(batch)
    // property: no append ever rewrites an existing increment's partitions
    assert(new java.io.File(s"$outA/data").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet == Set("curate_inc=0", "curate_inc=1"))
    assert(labelState(outA) == labelState(outB),
      "incrementally maintained labels must equal the full recompute")
    // demotion is LOGICAL (merge-on-read): doc 40's partition is still on
    // disk — the increment never rewrites existing data — and the
    // increment's remap carries exactly the demoted id
    val days = new java.io.File(s"$outA/data").listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.isDirectory)
      .flatMap(_.listFiles()).map(_.getName).toSet
    assert(days.contains("warc_day=2024-07-19"),
      s"demotion must not rewrite data partitions, saw $days")
    assert(spark.read.parquet(s"$outA/index/remap/increment=1")
      .select($"old_comp", $"comp").as[(Long, Long)].collect().toSeq == Seq((40L, 5L)))
  }

  test("an EMPTY increment is a no-op: no snapshot, no prefix, compactKept survives a legacy empty prefix") {
    import spark.implicits._
    val out = tmpDir()
    CuratedPipeline.run(spark, corpus(), out, numBuckets = 8, snapshotGroups = 2, runId = "e0")
    val kept0 = keptState(out)
    val snaps0 = CuratedPipeline.indexState(out)
    // a resumed job whose delta anti-joined to nothing curates an empty frame
    val lineage = CuratedPipeline.curateIncrement(spark,
      corpus().filter($"id" < 0), out, textCol = "text", numBuckets = 8, runId = "e1")
    assert(lineage.isEmpty)
    assert(CuratedPipeline.indexState(out) == snaps0, "no snapshot for an empty increment")
    assert(keptState(out) == kept0)
    // a legacy/torn rows-less prefix must not poison the fold's schema read
    val emptyPrefix = new java.io.File(s"$out/data/curate_inc=7")
    assert(emptyPrefix.mkdirs())
    val v = CuratedPipeline.compactKept(spark, out, numBuckets = 8)
    assert(v == 1L)
    assert(keptState(out) == kept0, "fold across the empty prefix must not change the view")
  }

  test("curateIncrement merges two existing components through a bridge doc (canonical + content)") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog"
    val textF = "grumpy wizards make toxic brew for the evil queen"
    val b1 = Seq(
      (10L, "u10", ts("2024-03-01 10:00:00"), textA, null.asInstanceOf[String]),
      (11L, "u11", ts("2024-03-01 11:00:00"), textA, null.asInstanceOf[String]),
      (15L, "u15", ts("2024-03-02 10:00:00"), textF, "https://e.com/c")
    ).toDF("id", "url", "warc_ts", "text", "canonical")
    // 70 shares CONTENT with {10,11} and CANONICAL with {15}: all four
    // must become one component labeled 10, demoting 15
    val b2 = Seq(
      (70L, "u70", ts("2024-03-05 10:00:00"), textA, "https://e.com/c")
    ).toDF("id", "url", "warc_ts", "text", "canonical")

    val outA = tmpDir(); val outB = tmpDir()
    CuratedPipeline.run(spark, b1, outA, numBuckets = 8, snapshotGroups = 2,
      runId = "b1", canonicalCol = Some("canonical"))
    assert(keptState(outA).map(_._1) == Seq(10L, 15L))
    CuratedPipeline.curateIncrement(spark, b2, outA, numBuckets = 8,
      runId = "b2", canonicalCol = Some("canonical"))
    CuratedPipeline.run(spark, b1.unionByName(b2), outB, numBuckets = 8,
      snapshotGroups = 2, runId = "full", canonicalCol = Some("canonical"))

    assert(keptState(outA) == keptState(outB))
    assert(keptState(outA).map(_._1) == Seq(10L))
    assert(labelState(outA) == labelState(outB))
    assert(labelState(outA).forall(_._2 == 10L),
      s"bridge must merge everything into comp 10, got ${labelState(outA)}")
  }

  test("a torn increment (killed before the index commit) replays to the identical state") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog"
    val textD = "how vexingly quick daft zebras jump around here"
    val b1 = Seq(
      CurDoc(10L, "u10", ts("2024-03-01 10:00:00"), textA, "a"),
      CurDoc(40L, "u40", ts("2024-03-02 10:00:00"), textD, "a")).toDF()
    val b2 = Seq(
      CurDoc(5L, "u05", ts("2024-03-05 10:00:00"), textD, "b"),
      CurDoc(60L, "u60", ts("2024-03-05 12:00:00"),
        "bright vixens jump while dozy fowl quack loudly", "b")).toDF()

    val outA = tmpDir(); val outB = tmpDir()
    CuratedPipeline.run(spark, b1, outA, numBuckets = 4, snapshotGroups = 1, runId = "b1")
    CuratedPipeline.curateIncrement(spark, b2, outA, numBuckets = 4, runId = "b2")

    // simulate the crash: the kept rewrite and index parquet landed, but the
    // index manifest line (the commit point) did not → roll the manifest back
    val mf = Paths.get(outA, "_manifest", "index_manifest.jsonl")
    val lines = Files.readAllLines(mf)
    Files.write(mf, (lines.get(0) + "\n").getBytes("UTF-8"))
    assert(CuratedPipeline.indexState(outA) == Set(0L))

    // replay the increment from the previous committed index
    CuratedPipeline.curateIncrement(spark, b2, outA, numBuckets = 4, runId = "b2r")
    CuratedPipeline.run(spark, b1.unionByName(b2), outB,
      numBuckets = 4, snapshotGroups = 1, runId = "full")
    assert(keptState(outA) == keptState(outB),
      "replayed increment must converge to the full-recompute kept corpus")
    assert(labelState(outA) == labelState(outB))
  }

  test("compactIndex folds band increments and keeps every label prefix; increments keep working") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "pack my box with five dozen liquor jugs today"
    val textC = "sphinx of black quartz judge my vow quickly now"
    val textD = "how vexingly quick daft zebras jump around here"
    val textE = "bright vixens jump while dozy fowl quack loudly"
    val b1 = Seq(CurDoc(10L, "u10", ts("2024-03-01 10:00:00"), textA, "a"),
      CurDoc(20L, "u20", ts("2024-03-01 11:00:00"), textB, "a")).toDF()
    val b2 = Seq(CurDoc(30L, "u30", ts("2024-03-02 10:00:00"), textC, "b"),
      CurDoc(31L, "u31", ts("2024-03-02 11:00:00"), textA, "b")).toDF() // dup of 10
    val b3 = Seq(CurDoc(40L, "u40", ts("2024-03-03 10:00:00"), textD, "c")).toDF()
    val b4 = Seq(CurDoc(5L, "u05", ts("2024-03-04 10:00:00"), textE, "d"),
      CurDoc(6L, "u06", ts("2024-03-04 11:00:00"), textB, "d")).toDF() // demotes 20

    val outA = tmpDir(); val outB = tmpDir()
    CuratedPipeline.run(spark, b1, outA, numBuckets = 4, snapshotGroups = 1, runId = "b1")
    CuratedPipeline.curateIncrement(spark, b2, outA, numBuckets = 4, runId = "b2")
    CuratedPipeline.curateIncrement(spark, b3, outA, numBuckets = 4, runId = "b3")
    assert(CuratedPipeline.indexState(outA) == Set(0L, 1L, 2L))
    def labelDirs = new java.io.File(s"$outA/index/labels").listFiles()
      .filter(_.getName.startsWith("increment=")).map(_.getName).sorted.toSeq
    assert(labelDirs == Seq("increment=0", "increment=1", "increment=2"))

    CuratedPipeline.compactIndex(spark, outA)
    val bandDirs = new java.io.File(s"$outA/index/bands").listFiles()
      .filter(_.getName.startsWith("increment=")).map(_.getName)
    assert(bandDirs.toSeq == Seq("increment=2"), s"got ${bandDirs.mkString(",")}")
    assert(labelDirs == Seq("increment=0", "increment=1", "increment=2"),
      "label prefixes are batch-sized and time travel reads them: never folded")

    // the compacted index still drives a correct increment (incl. demotion)
    CuratedPipeline.curateIncrement(spark, b4, outA, numBuckets = 4, runId = "b4")
    CuratedPipeline.run(spark, b1.unionByName(b2).unionByName(b3).unionByName(b4),
      outB, numBuckets = 4, snapshotGroups = 1, runId = "full")
    assert(keptState(outA) == keptState(outB))
    assert(labelState(outA) == labelState(outB))
    assert(keptState(outA).map(_._1) == Seq(5L, 6L, 10L, 30L, 40L))
  }

  test("compactKept folds increment prefixes; build → increment → compact → increment → vacuum stays value-exact") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "pack my box with five dozen liquor jugs today"
    val textC = "sphinx of black quartz judge my vow quickly now"
    val textD = "how vexingly quick daft zebras jump around here"
    val textE = "bright vixens jump while dozy fowl quack loudly"
    val b1 = Seq(CurDoc(10L, "u10", ts("2024-03-01 10:00:00"), textA, "a"),
      CurDoc(20L, "u20", ts("2024-03-01 11:00:00"), textB, "a"),
      CurDoc(40L, "u40", ts("2024-03-01 12:00:00"), textD, "a")).toDF()
    val b2 = Seq(CurDoc(30L, "u30", ts("2024-03-02 10:00:00"), textC, "b"),
      CurDoc(31L, "u31", ts("2024-03-02 11:00:00"), textA, "b")).toDF() // dup of 10
    val b3 = Seq(CurDoc(5L, "u05", ts("2024-03-03 10:00:00"), textE, "c"),
      CurDoc(6L, "u06", ts("2024-03-03 11:00:00"), textB, "c")).toDF() // demotes 20

    val outA = tmpDir(); val outB = tmpDir()
    CuratedPipeline.run(spark, b1, outA, numBuckets = 4, snapshotGroups = 1, runId = "b1")
    CuratedPipeline.curateIncrement(spark, b2, outA, numBuckets = 4, runId = "b2")

    // fold base + first increment into compact v1 and reclaim the prefixes
    val keptBefore = keptState(outA)
    assert(CuratedPipeline.compactKept(spark, outA, numBuckets = 4) == 1L)
    assert(keptState(outA) == keptBefore, "fold must not change the visible corpus")
    CuratedPipeline.vacuumKept(spark, outA)
    assert(keptState(outA) == keptBefore, "vacuum must not change the visible corpus")
    // the increment prefixes are physically gone — the listing problem the
    // fold exists for — and the compact layout has no curate_inc dirs
    val dataDirs = Option(new java.io.File(s"$outA/data").listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory).map(_.getName)
    assert(!dataDirs.exists(_.startsWith("curate_inc=")), s"saw ${dataDirs.mkString(",")}")
    assert(new java.io.File(s"$outA/compact/v1").listFiles()
      .filter(_.isDirectory).forall(_.getName.startsWith("part_bucket=")))

    // an increment ACROSS the fold (with a demotion into the compacted
    // base) still equals the full recompute
    CuratedPipeline.curateIncrement(spark, b3, outA, numBuckets = 4, runId = "b3")
    CuratedPipeline.run(spark, b1.unionByName(b2).unionByName(b3), outB,
      numBuckets = 4, snapshotGroups = 1, runId = "full")
    assert(keptState(outA) == keptState(outB))
    assert(keptState(outA).map(_._1) == Seq(5L, 6L, 10L, 30L, 40L))
    assert(labelState(outA) == labelState(outB))

    // a SECOND fold absorbs the post-fold increment too
    assert(CuratedPipeline.compactKept(spark, outA, numBuckets = 4) == 2L)
    CuratedPipeline.vacuumKept(spark, outA)
    assert(keptState(outA) == keptState(outB))
    assert(!new java.io.File(s"$outA/compact/v1").exists())
  }

  test("readKeptAsOf reconstructs every increment's view; releaseAsOf pairs it with that increment's labels") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "pack my box with five dozen liquor jugs today"
    val textD = "how vexingly quick daft zebras jump around here"
    val b1 = Seq(CurDoc(10L, "u10", ts("2024-03-01 10:00:00"), textA, "a"),
      CurDoc(20L, "u20", ts("2024-03-01 11:00:00"), textB, "a")).toDF()
    val b2 = Seq(CurDoc(40L, "u40", ts("2024-03-02 10:00:00"), textD, "b"),
      CurDoc(41L, "u41", ts("2024-03-02 11:00:00"), textA, "b")).toDF() // dup of 10
    val b3 = Seq(CurDoc(5L, "u05", ts("2024-03-03 10:00:00"), textB, "c")).toDF() // demotes 20

    val out = tmpDir()
    CuratedPipeline.run(spark, b1, out, numBuckets = 4, snapshotGroups = 1, runId = "b1")
    val v0 = keptState(out)
    CuratedPipeline.curateIncrement(spark, b2, out, numBuckets = 4, runId = "b2")
    val v1 = keptState(out)
    CuratedPipeline.curateIncrement(spark, b3, out, numBuckets = 4, runId = "b3")
    val v2 = keptState(out)
    assert(v0.map(_._1) == Seq(10L, 20L))
    assert(v1.map(_._1) == Seq(10L, 20L, 40L))
    assert(v2.map(_._1) == Seq(5L, 10L, 40L)) // 20 demoted by 5

    assert(CuratedPipeline.indexState(out) == Set(0L, 1L, 2L))
    def asOf(k: Long) = CuratedPipeline.readKeptAsOf(spark, out, k)
      .select($"id", $"text").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(asOf(0L) == v0, "as-of increment 0 must equal what readKept returned then")
    assert(asOf(1L) == v1, "as-of increment 1 must see the pre-demotion canonical")
    assert(asOf(2L) == v2)

    // time travel survives the kept-table fold + vacuum (curate_inc rides
    // along as a data column; deletes stay logical)
    CuratedPipeline.compactKept(spark, out, numBuckets = 4)
    CuratedPipeline.vacuumKept(spark, out)
    assert(asOf(0L) == v0 && asOf(1L) == v1 && asOf(2L) == v2,
      "per-snapshot kept sets must survive kept-table compaction")

    // release cut: labels as of the increment; the older cut still shows
    // 20 as its own canonical, the newer one shows 20 → 5
    val (k1, l1) = CuratedPipeline.releaseAsOf(spark, out, 1L)
    assert(k1.select($"id").as[Long].collect().sorted.toSeq == Seq(10L, 20L, 40L))
    assert(l1.filter($"id" === 20L).select($"comp").as[Long].head() == 20L)
    val (k2, l2) = CuratedPipeline.releaseAsOf(spark, out, 2L)
    assert(k2.select($"id").as[Long].collect().sorted.toSeq == Seq(5L, 10L, 40L))
    assert(l2.filter($"id" === 20L).select($"comp").as[Long].head() == 5L)

    // index compaction folds band keys only: every old release cut stays
    // exact, labels included
    val cuts = Seq(0L, 1L, 2L).map(releaseCut(out, _))
    CuratedPipeline.compactIndex(spark, out)
    assert(Seq(0L, 1L, 2L).map(releaseCut(out, _)) == cuts)
    assert(cuts(1)._1 == Seq(10L, 20L, 40L))
  }

  test("label time travel across a demotion chain: releaseAsOf(k) ≡ the labels at k, across compaction") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "pack my box with five dozen liquor jugs today"
    val b0 = Seq(CurDoc(20L, "u20", ts("2024-03-01 10:00:00"), textB, "a"),
      CurDoc(21L, "u21", ts("2024-03-01 11:00:00"), textB, "a"), // dup of 20
      CurDoc(30L, "u30", ts("2024-03-01 12:00:00"), textA, "a")).toDF()
    val b1 = Seq(CurDoc(5L, "u05", ts("2024-03-02 10:00:00"), textB, "b")).toDF() // demotes 20 to 5
    val b2 = Seq(CurDoc(1L, "u01", ts("2024-03-03 10:00:00"), textB, "c"), // demotes 5 to 1
      CurDoc(31L, "u31", ts("2024-03-03 11:00:00"), textA, "c")).toDF() // dup of 30

    val out = tmpDir()
    def state() = (keptState(out).map(_._1), labelState(out))
    CuratedPipeline.run(spark, b0, out, numBuckets = 4, snapshotGroups = 1, runId = "c0")
    val s0 = state()
    CuratedPipeline.curateIncrement(spark, b1, out, numBuckets = 4, runId = "c1")
    val s1 = state()
    CuratedPipeline.curateIncrement(spark, b2, out, numBuckets = 4, runId = "c2")
    val s2 = state()
    assert(s0 == ((Seq(20L, 30L), Seq((20L, 20L), (21L, 20L), (30L, 30L)))))
    assert(s1 == ((Seq(5L, 30L), Seq((5L, 5L), (20L, 5L), (21L, 5L), (30L, 30L)))))
    assert(s2 == ((Seq(1L, 30L),
      Seq((1L, 1L), (5L, 1L), (20L, 1L), (21L, 1L), (30L, 30L), (31L, 30L)))))

    val full = tmpDir()
    CuratedPipeline.run(spark, b0.unionByName(b1).unionByName(b2), full,
      numBuckets = 4, snapshotGroups = 1, runId = "full")
    assert(labelState(out) == labelState(full))
    assert(keptState(out) == keptState(full))
    // the composed remap at 2 re-points 20 → 5 through 5 → 1; each key once
    assert(spark.read.parquet(s"$out/index/remap/increment=2")
      .select($"old_comp", $"comp").as[(Long, Long)].collect().sorted.toSeq ==
      Seq((5L, 1L), (20L, 1L)))

    assert(Seq(0L, 1L, 2L).map(releaseCut(out, _)) == Seq(s0, s1, s2))
    CuratedPipeline.compactIndex(spark, out)
    CuratedPipeline.compactKept(spark, out, numBuckets = 4)
    CuratedPipeline.vacuumKept(spark, out)
    assert(Seq(0L, 1L, 2L).map(releaseCut(out, _)) == Seq(s0, s1, s2),
      "every release cut must survive index and kept-table maintenance")
  }

  test("index writes are O(batch): one increment writes the same index rows over a 4x larger base") {
    import spark.implicits._
    // 30 eight-char words per doc drawn from md5 of its seed: equal seeds
    // are exact duplicates, distinct seeds never share a band
    def docs(rows: Seq[(Long, String)]) = rows.toDF("id", "seed").select($"id",
      concat(lit("doc://"), $"id").as("url"),
      lit("2024-03-01 00:00:00").cast("timestamp").as("warc_ts"),
      expr("concat_ws(' ', transform(sequence(1, 30), " +
        "i -> substr(md5(concat(seed, '_', cast(i AS string))), 1, 8)))").as("text"))
    // the increment: 5 docs undercutting a base doc each (demotions), 5
    // larger-id copies of base docs (dropped) and 20 new docs
    val batch = docs((0 until 5).map(i => (1L + i, s"core$i")) ++
      (5 until 10).map(i => (50000L + i, s"core$i")) ++
      (0 until 20).map(i => (60000L + i, s"new$i")))
    def incrementRows(baseSize: Int): Seq[Long] = {
      val out = tmpDir()
      // the same 10 colliding base docs at every size; the rest collide with nothing
      val base = docs((0 until 10).map(i => (100L + i, s"core$i")) ++
        (10 until baseSize).map(i => (1000L + i, s"filler$i")))
      CuratedPipeline.run(spark, base, out, numBuckets = 4, snapshotGroups = 1, runId = "base")
      CuratedPipeline.curateIncrement(spark, batch, out, numBuckets = 4, runId = "inc")
      assert(CuratedPipeline.indexState(out) == Set(0L, 1L))
      Seq("labels", "remap", "bands")
        .map(t => spark.read.parquet(s"$out/index/$t/increment=1").count())
    }
    val small = incrementRows(500)
    val large = incrementRows(2000)
    assert(small == large, s"index rows written by one increment grew with the base: $small vs $large")
    assert(small.take(2) == Seq(30L, 5L) && small(2) > 0, s"labels/remap/bands rows: $small")
  }

  test("torn curate run resumes and equals the clean run (dedup decision is stable)") {
    import spark.implicits._
    val outClean = tmpDir(); val outTorn = tmpDir()

    CuratedPipeline.run(spark, corpus(), outClean,
      numBuckets = 8, snapshotGroups = 4, runId = "clean")

    // simulate a kill after 2 of 4 snapshots
    CuratedPipeline.run(spark, corpus(), outTorn,
      numBuckets = 8, snapshotGroups = 4, runId = "t1")
    val mf = Paths.get(outTorn, "_manifest", "manifest.jsonl")
    val lines = Files.readAllLines(mf)
    Files.write(mf, String.join("\n", lines.subList(0, 2)).concat("\n").getBytes("UTF-8"))
    assert(ExtractPipeline.committedBuckets(outTorn).size == 4)

    val resumed = CuratedPipeline.run(spark, corpus(), outTorn,
      numBuckets = 8, snapshotGroups = 4, runId = "t2")
    assert(resumed.nonEmpty)
    assert(ExtractPipeline.committedBuckets(outTorn).size == 8)

    val clean = CuratedPipeline.readKept(spark, outClean)
      .select($"id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val torn = CuratedPipeline.readKept(spark, outTorn)
      .select($"id", $"text").as[(Long, String)].collect().sortBy(_._1)
    assert(clean.sameElements(torn), "resumed kept corpus must equal clean run")
  }

  test("run commits its dedup index: readLabels ≡ Dedup.clusterLabels, readBands ≡ Dedup.bandKeys") {
    import spark.implicits._
    val out = tmpDir()
    CuratedPipeline.run(spark, corpus(), out, numBuckets = 8, snapshotGroups = 2, runId = "idx")
    assert(CuratedPipeline.indexState(out) == Set(0L))

    val labels = CuratedPipeline.readLabels(spark, out)
      .select($"id", $"comp").as[(Long, Long)].collect().sorted
    val expectLabels = Dedup.clusterLabels(corpus(), "id", "text", None)
      .select($"id", $"comp").as[(Long, Long)].collect().sorted
    assert(labels.nonEmpty)
    assert(labels.sameElements(expectLabels), s"labels ${labels.mkString(",")}")

    val bands = CuratedPipeline.readBands(spark, out).as[(Long, String)].collect().sorted
    val expectBands = Dedup.bandKeys(corpus(), "id", "text", None)
      .as[(Long, String)].collect().sorted
    assert(bands.nonEmpty)
    assert(bands.sameElements(expectBands))
  }

  test("a run killed after its last bucket commit but before its index line replays and commits the index") {
    import spark.implicits._
    val outClean = tmpDir(); val outTorn = tmpDir()
    CuratedPipeline.run(spark, corpus400(), outClean,
      numBuckets = 8, snapshotGroups = 4, runId = "clean")

    CuratedPipeline.run(spark, corpus400(), outTorn,
      numBuckets = 8, snapshotGroups = 4, runId = "t1")
    Files.delete(Paths.get(outTorn, "_manifest", "index_manifest.jsonl"))
    assert(ExtractPipeline.committedBuckets(outTorn) == (0 until 8).toSet)
    assert(CuratedPipeline.indexState(outTorn).isEmpty)

    // every bucket is committed, so the replay writes no kept rows
    val resumed = CuratedPipeline.run(spark, corpus400(), outTorn,
      numBuckets = 8, snapshotGroups = 4, runId = "t2")
    assert(resumed.isEmpty)
    assert(CuratedPipeline.indexState(outTorn) == Set(0L))

    def labels(dir: String) = CuratedPipeline.readLabels(spark, dir)
      .select($"id", $"comp").as[(Long, Long)].collect().sorted
    def bands(dir: String) = CuratedPipeline.readBands(spark, dir)
      .as[(Long, String)].collect().sorted
    assert(labels(outClean).length == 400)
    assert(labels(outClean).sameElements(labels(outTorn)))
    assert(bands(outClean).sameElements(bands(outTorn)))
    def kept(dir: String) = CuratedPipeline.readKept(spark, dir)
      .select($"id").as[Long].collect().sorted
    assert(kept(outClean).sameElements(kept(outTorn)))

    // the index is committed, so the next run is a no-op
    assert(CuratedPipeline.run(spark, corpus400(), outTorn,
      numBuckets = 8, snapshotGroups = 4, runId = "t3").isEmpty)
    assert(CuratedPipeline.indexState(outTorn) == Set(0L))
  }

  /** 400 docs over 8 partitions; docs 300..399 repeat the text of docs
    * 0..99, so dedup drops 100 of them. `reads` counts rows produced.
    */
  private def corpus400(reads: Option[org.apache.spark.util.LongAccumulator] = None) = {
    import spark.implicits._
    spark.range(0L, 400L, 1L, 8).map { i =>
      reads.foreach(_.add(1))
      CurDoc(i, s"u$i", java.sql.Timestamp.valueOf(s"2024-03-0${1 + i % 3} 10:00:00"),
        Seq("a", "b", "c", "d", "e").map(w => s"w${i % 300}$w").mkString(" "),
        if (i % 2 == 0) "a" else "b")
    }.toDF()
  }

  test("a curate run reads its corpus a bounded number of times, however many snapshot groups it commits") {
    val out = tmpDir()
    val reads = spark.sparkContext.longAccumulator("corpus-read")
    CuratedPipeline.run(spark, corpus400(Some(reads)), out,
      numBuckets = 8, snapshotGroups = 4, runId = "once")
    assert(ExtractPipeline.committedBuckets(out) == (0 until 8).toSet)
    // once for the pinned band keys, once for the shared shuffle
    assert(reads.value == 800L, s"corpus rows read ${reads.value} times for 400 docs")
  }

  test("curated lineage: one row per committed bucket, input_rows = that bucket's kept rows") {
    val out = tmpDir()
    val lineage = CuratedPipeline.run(spark, corpus400(), out,
      numBuckets = 8, snapshotGroups = 4, runId = "pb")
    assert(lineage.map(_.partition_id) == (0 until 8))
    val kept = CuratedPipeline.readKept(spark, out).groupBy("part_bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(kept.values.sum == 300L)
    lineage.foreach { l =>
      assert(l.input_rows == kept.getOrElse(l.partition_id, 0L), s"bucket ${l.partition_id}")
    }
  }

  test("torn curate run with non-contiguous remaining buckets resumes to the clean output") {
    import spark.implicits._
    val outClean = tmpDir(); val outTorn = tmpDir()
    CuratedPipeline.run(spark, corpus400(), outClean,
      numBuckets = 8, snapshotGroups = 4, runId = "clean")

    // drop manifest lines 1 and 3 of 4: buckets {0,1} and {4,5} remain
    CuratedPipeline.run(spark, corpus400(), outTorn,
      numBuckets = 8, snapshotGroups = 4, runId = "t1")
    val mf = Paths.get(outTorn, "_manifest", "manifest.jsonl")
    val lines = Files.readAllLines(mf)
    Files.write(mf, (lines.get(1) + "\n" + lines.get(3) + "\n").getBytes("UTF-8"))
    assert(ExtractPipeline.committedBuckets(outTorn) == Set(2, 3, 6, 7))

    val resumed = CuratedPipeline.run(spark, corpus400(), outTorn,
      numBuckets = 8, snapshotGroups = 4, runId = "t2")
    assert(resumed.map(_.partition_id) == Seq(0, 1, 4, 5))
    assert(ExtractPipeline.committedBuckets(outTorn) == (0 until 8).toSet)

    def rows(dir: String) = CuratedPipeline.readKept(spark, dir)
      .select($"id", $"part_bucket", $"warc_day".cast("string"), $"text")
      .as[(Long, Int, String, String)].collect().sortBy(_._1)
    val clean = rows(outClean)
    assert(clean.length == 300)
    assert(clean.sameElements(rows(outTorn)), "resumed kept corpus must equal the clean run")
  }

  test("flagship composition: pages → extract table → quality gate → kept corpus, torn at either stage") {
    import spark.implicits._
    val n = 300L
    val pages = ExtractStage.generatePages(spark, n, partitions = 8)

    val outClean = tmpDir()
    val (el, cl) = CuratedPipeline.runFromPages(spark, pages, outClean,
      numBuckets = 8, snapshotGroups = 4, runId = "clean")
    assert(el.map(_.input_rows).sum == n)
    val keptClean = CuratedPipeline.readKept(spark, s"$outClean/curated")
      .select($"url", $"extracted_text").as[(String, String)].collect().sortBy(_._1)
    assert(keptClean.nonEmpty)
    assert(cl.map(_.input_rows).sum == keptClean.length,
      "curate lineage must account for exactly the kept rows")

    // every kept row passed the quality gate (success=true survives the read)
    assert(CuratedPipeline.readKept(spark, s"$outClean/curated")
      .filter(!$"success").count() == 0)

    // Gopher gate: every kept doc passes ALL rules, and the gate only
    // shrinks the corpus (the q69-oracled rule set as the production gate)
    val outG = tmpDir()
    CuratedPipeline.runFromPages(spark, pages, outG,
      numBuckets = 8, snapshotGroups = 2, runId = "gopher", gopherGate = true)
    val keptG = CuratedPipeline.readKept(spark, s"$outG/curated")
    assert(keptG.count() <= keptClean.length)
    assert(keptG.filter(!graft.functions.GraftFunctions
      .gopherQuality($"extracted_text").getField("pass")).count() == 0,
      "every kept doc must pass the full Gopher rule set")
    // the gate is exactly gopherQuality().pass over the pre-dedup input:
    // kept count can never exceed the extract table's pass count
    val passCount = ExtractPipeline.readOutput(spark, s"$outG/extract")
      .filter($"success" && !$"noindex")
      .filter(graft.functions.GraftFunctions
        .gopherQuality($"extracted_text").getField("pass")).count()
    assert(keptG.count() <= passCount && keptG.count() > 0)

    // PII scrub: no raw email/IP/phone survives into the released corpus
    val outP = tmpDir()
    CuratedPipeline.runFromPages(spark, pages, outP,
      numBuckets = 8, snapshotGroups = 2, runId = "pii", scrubPii = true)
    val keptP = CuratedPipeline.readKept(spark, s"$outP/curated")
    assert(keptP.columns.contains("pii_redactions"))
    import graft.core.rules.PiiScrubber
    val leaked = keptP.filter(
      $"extracted_text".rlike(PiiScrubber.EmailPattern) ||
      $"extracted_text".rlike(PiiScrubber.Ipv4Pattern) ||
      $"extracted_text".rlike(PiiScrubber.PhonePattern)).count()
    assert(leaked == 0, "scrubPii must leave no raw PII in the kept corpus")
    // redaction counts agree with re-scrubbing the ORIGINAL extracted text
    val recount = ExtractPipeline.readOutput(spark, s"$outP/extract")
      .filter($"success")
      .select(sum(graft.functions.GraftFunctions.piiScrub($"extracted_text")
        .getField("n_emails")).cast("long")).as[Long].head()
    val kept_e = keptP.select(sum($"pii_redactions").cast("long")).as[Long].head()
    assert(kept_e >= 0 && (recount == 0 || kept_e <= recount * 3))

    // torn during CURATE: extract complete, curated manifest truncated
    val outT1 = tmpDir()
    CuratedPipeline.runFromPages(spark, pages, outT1,
      numBuckets = 8, snapshotGroups = 4, runId = "t1")
    val mfC = Paths.get(outT1, "curated", "_manifest", "manifest.jsonl")
    val linesC = Files.readAllLines(mfC)
    Files.write(mfC, String.join("\n", linesC.subList(0, 1)).concat("\n").getBytes("UTF-8"))
    CuratedPipeline.runFromPages(spark, pages, outT1,
      numBuckets = 8, snapshotGroups = 4, runId = "t1r")
    val keptT1 = CuratedPipeline.readKept(spark, s"$outT1/curated")
      .select($"url", $"extracted_text").as[(String, String)].collect().sortBy(_._1)
    assert(keptClean.sameElements(keptT1),
      "curate-stage torn run must converge to the clean kept corpus")

    // torn during EXTRACT: curate stage never started
    val outT2 = tmpDir()
    ExtractPipeline.run(spark, pages, s"$outT2/extract",
      numBuckets = 8, snapshotGroups = 4, runId = "t2")
    val mfE = Paths.get(outT2, "extract", "_manifest", "manifest.jsonl")
    val linesE = Files.readAllLines(mfE)
    Files.write(mfE, String.join("\n", linesE.subList(0, 2)).concat("\n").getBytes("UTF-8"))
    CuratedPipeline.runFromPages(spark, pages, outT2,
      numBuckets = 8, snapshotGroups = 4, runId = "t2r")
    val keptT2 = CuratedPipeline.readKept(spark, s"$outT2/curated")
      .select($"url", $"extracted_text").as[(String, String)].collect().sortBy(_._1)
    assert(keptClean.sameElements(keptT2),
      "extract-stage torn run must converge to the clean kept corpus")
  }

  // ---- the release increment: RunRelease's base build + later batch -------

  /** RunRelease's two batches at `n` pages: the base 2/3 and the later
    * pages, which overlap the base the way the job's do.
    */
  private def releaseBatches(n: Long): (Dataset[Page], Dataset[Page]) =
    (ExtractStage.generatePages(spark, n * 2 / 3, partitions = 8),
      ExtractStage.generatePages(spark, n, partitions = 8).filter(_.url.hashCode % 3 == 0))

  /** The release job's base build, with its gate pair. */
  private def releaseBase(pages: Dataset[Page], out: String): Unit =
    CuratedPipeline.runFromPages(spark, pages, out, numBuckets = 8, snapshotGroups = 2,
      runId = "rel-base", scrubPii = true, gopherGate = true)

  /** The release job's increment, with the same gate pair. */
  private def releaseIncrement(pages: Dataset[Page], out: String): Unit =
    RunRelease.increment(spark, pages, out, numBuckets = 8, runId = "rel-inc",
      gopherGate = true, scrubPii = true)

  private def keptIdText(curated: String): Seq[(Long, String)] = {
    import spark.implicits._
    CuratedPipeline.readKept(spark, curated).select($"id", $"extracted_text")
      .as[(Long, String)].collect().toSeq.sorted
  }

  test("release increment after runFromPages(base) equals runFromPages(base ∪ rest)") {
    import spark.implicits._
    // RunRelease's pinned size: its increment carries a noindex page that
    // passes the Gopher gate, and canonical groups span both batches
    val (base, more) = releaseBatches(3000L)
    val outInc = tmpDir()
    releaseBase(base, outInc)
    val laterRows = ExtractStage.run(more).toDF().join(
      ExtractPipeline.readOutput(spark, s"$outInc/extract").select($"url"), Seq("url"), "left_anti")
    // its noindex pages, with the flag cleared, pass every other gate
    assert(CuratedPipeline.admit(laterRows.filter($"noindex").withColumn("noindex", lit(false)),
      gopherGate = true).count() > 0, "the later batch must carry a noindex page the gate drops")
    releaseIncrement(more, outInc)
    val outFull = tmpDir()
    releaseBase(base.unionByName(more).dropDuplicates("url"), outFull)

    val inc = keptIdText(s"$outInc/curated")
    assert(inc.nonEmpty)
    assert(CuratedPipeline.indexState(s"$outInc/curated") == Set(0L, 1L),
      "the increment must fold as increment 1, not rebuild the corpus")
    assert(inc == keptIdText(s"$outFull/curated"),
      "base build + increment must keep exactly what one build over both keeps")
    def labels(out: String) = CuratedPipeline.readLabels(spark, s"$out/curated")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(labels(outInc) == labels(outFull))
  }

  test("a noindex page in the release increment reaches neither the kept table nor the WET release") {
    import spark.implicits._
    val (base, more) = releaseBatches(1500L)
    // the site owner's opt-out, planted into the head of every other page
    // of the later batch
    val noindexMeta = "<meta name=\"robots\" content=\"noindex\">"
    val planted = more.map { p =>
      val html = if (p.html == null) "" else new String(p.html, "UTF-8")
      if (math.floorMod(p.url.hashCode, 2) == 0 && html.contains("</head>"))
        p.copy(html = html.replaceFirst("</head>", noindexMeta + "</head>").getBytes("UTF-8"))
      else p
    }
    val out = tmpDir()
    releaseBase(base, out)
    val noindexUrls = ExtractStage.run(planted).filter($"noindex")
      .join(ExtractPipeline.readOutput(spark, s"$out/extract").select($"url"), Seq("url"), "left_anti")
    // the test proves the gate, not absence: some planted pages would
    // otherwise pass every other gate of the increment
    assert(CuratedPipeline.admit(noindexUrls.toDF().withColumn("noindex", lit(false)), gopherGate = true)
      .count() > 0, "the planted noindex pages must otherwise pass the release gate")
    releaseIncrement(planted, out)
    assert(CuratedPipeline.indexState(s"$out/curated").contains(1L))

    val opted = noindexUrls.select($"url").as[String].collect().toSet
    val keptUrls = CuratedPipeline.readKept(spark, s"$out/curated")
      .select($"url").as[String].collect().toSet
    assert(keptUrls.intersect(opted).isEmpty, "noindex pages must not be kept")
    val rel = tmpDir()
    WetExport.writeRelease(spark, s"$out/curated", rel)
    val released = new java.io.File(rel).listFiles()
      .filter(_.getName.endsWith(".warc.wet.gz")).flatMap { f =>
        val in = new java.io.FileInputStream(f)
        try graft.core.warc.WarcReader.records(in).map(_.targetUri).toList finally in.close()
      }.toSet
    assert(released == keptUrls)
    assert(released.intersect(opted).isEmpty, "noindex pages must not be released")
  }

  test("a release increment torn before its index line replays to the full build") {
    import spark.implicits._
    val (base, more) = releaseBatches(600L)
    val out = tmpDir()
    releaseBase(base, out)
    val curated = s"$out/curated"
    // one copy under a new url of each later page the base lacks: the
    // increment clusters each pair, so it drops rows as well as keeps them
    val fresh = more.join(base.select($"url"), Seq("url"), "left_anti").as[Page]
    val batch = more.unionByName(fresh.map(p => p.copy(url = p.url + "?copy=1")))
    releaseIncrement(batch, out)

    // the kill: the increment's kept rows, deletes and index parquet
    // landed, its index line did not
    val mf = Paths.get(curated, "_manifest", "index_manifest.jsonl")
    Files.write(mf, (Files.readAllLines(mf).get(0) + "\n").getBytes("UTF-8"))
    assert(CuratedPipeline.indexState(curated) == Set(0L))
    releaseIncrement(batch, out)
    assert(CuratedPipeline.indexState(curated) == Set(0L, 1L))

    val full = tmpDir()
    releaseBase(base.unionByName(batch).dropDuplicates("url"), full)
    assert(keptIdText(curated) == keptIdText(s"$full/curated"),
      "the replayed increment must keep exactly what one build over both keeps")
    def labels(dir: String) = CuratedPipeline.readLabels(spark, dir)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(labels(curated) == labels(s"$full/curated"))
  }

  test("rerunning the release increment is a no-op, also for a near-dup the index dropped") {
    import spark.implicits._
    val (base, more) = releaseBatches(600L)
    val out = tmpDir()
    releaseBase(base, out)
    val curated = s"$out/curated"
    // a copy of the lowest-id kept doc under a new url whose id is higher:
    // the increment clusters it with that doc and drops it, so it lands in
    // the labels table but never in the kept table
    val (docId, docUrl) = CuratedPipeline.readKept(spark, curated)
      .join(CuratedPipeline.readLabels(spark, curated), Seq("id"))
      .select($"id", $"url").as[(Long, String)].collect().min
    val dupUrl = (0 until 16).map(k => s"$docUrl?copy=$k").toDF("url")
      .select($"url", xxhash64($"url").as("id")).filter($"id" > docId)
      .select($"url").as[String].first()
    val src = base.filter($"url" === docUrl).first()
    val batch = more.unionByName(Seq(src.copy(url = dupUrl)).toDS())

    releaseIncrement(batch, out)
    val dupId = Seq(dupUrl).toDF("url").select(xxhash64($"url")).as[Long].first()
    assert(CuratedPipeline.readLabels(spark, curated)
      .filter($"id" === dupId).select($"comp").as[Long].collect().toSeq == Seq(docId),
      "the planted copy must cluster with the doc it copies")
    assert(CuratedPipeline.readKept(spark, curated).filter($"id" === dupId).isEmpty,
      "the planted copy must be dropped as a near-dup")
    val stateBefore = CuratedPipeline.indexState(curated)
    val keptBefore = keptIdText(curated)

    releaseIncrement(batch, out)
    assert(CuratedPipeline.indexState(curated) == stateBefore,
      "a rerun must commit no new index increment")
    assert(keptIdText(curated) == keptBefore)
    val labelIds = CuratedPipeline.readLabels(spark, curated).select($"id").as[Long].collect()
    assert(labelIds.length == labelIds.distinct.length, "no id may appear twice in the labels")
  }
}
