package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

// top-level so Spark can derive encoders (local case classes lack the
// TypeTag spark.implicits needs)
final case class SessEv(user_id: Long, ts: java.sql.Timestamp)
final case class SessState(lastSec: Long, n: Long)

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("pipeline-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String = {
    val d = graft.TestDirs.create("graft-pipe").toString
    d
  }

  test("distributed extract equals single-threaded core output") {
    import spark.implicits._
    val n = 300L
    val pages = ExtractStage.generatePages(spark, n, partitions = 8)
    val dist = ExtractStage.run(pages)
      .select($"url", $"extracted_text").as[(String, String)].collect().toMap
    (0L until n).foreach { i =>
      val p = PageGen.page(PageGen.DefaultSeed, i)
      val local = graft.core.ExtractCore.processPage(p.html, p.text)
      assert(dist(p.url) == local.extractedText, s"row $i text drift between cluster and local")
    }
  }

  test("full run commits all buckets; rerun is a no-op") {
    val out = tmpDir()
    val pages = ExtractStage.generatePages(spark, 500, partitions = 8)
    val l1 = ExtractPipeline.run(spark, pages, out, numBuckets = 16, snapshotGroups = 4, runId = "r1")
    assert(l1.map(_.input_rows).sum == 500)
    assert(ExtractPipeline.committedBuckets(out) == (0 until 16).toSet)
    val l2 = ExtractPipeline.run(spark, pages, out, numBuckets = 16, snapshotGroups = 4, runId = "r2")
    assert(l2.isEmpty, "resume of a complete run must process nothing")
    assert(ExtractPipeline.readOutput(spark, out).count() == 500)
  }

  test("torn run resumes from last committed snapshot; output equals clean run") {
    import spark.implicits._
    val outClean = tmpDir(); val outTorn = tmpDir()
    val pages = ExtractStage.generatePages(spark, 400, partitions = 8)

    ExtractPipeline.run(spark, pages, outClean, numBuckets = 8, snapshotGroups = 4, runId = "clean")

    // simulate a kill after 2 of 4 snapshots: run fully, then drop the last
    // two manifest lines (their parquet may or may not exist — both legal
    // torn states; dynamic partition overwrite rewrites those buckets)
    ExtractPipeline.run(spark, pages, outTorn, numBuckets = 8, snapshotGroups = 4, runId = "t1")
    val mf = Paths.get(outTorn, "_manifest", "manifest.jsonl")
    val lines = Files.readAllLines(mf)
    Files.write(mf, String.join("\n", lines.subList(0, 2)).concat("\n").getBytes("UTF-8"))
    assert(ExtractPipeline.committedBuckets(outTorn).size == 4)

    val resumed = ExtractPipeline.run(spark, pages, outTorn, numBuckets = 8, snapshotGroups = 4, runId = "t2")
    assert(resumed.nonEmpty)
    assert(ExtractPipeline.committedBuckets(outTorn).size == 8)

    val clean = ExtractPipeline.readOutput(spark, outClean)
      .select($"url", $"extracted_text", $"invoice_number").as[(String, String, String)]
      .collect().sortBy(_._1)
    val torn = ExtractPipeline.readOutput(spark, outTorn)
      .select($"url", $"extracted_text", $"invoice_number").as[(String, String, String)]
      .collect().sortBy(_._1)
    assert(clean.length == 400 && torn.length == 400)
    assert(clean.sameElements(torn), "resumed output must equal clean-run output")
  }

  test("lineage rows account for every input row exactly once") {
    val out = tmpDir()
    val pages = ExtractStage.generatePages(spark, 300, partitions = 8)
    val lineage = ExtractPipeline.run(spark, pages, out, numBuckets = 8, snapshotGroups = 2, runId = "lin")
    assert(lineage.map(_.input_rows).sum == 300)
    assert(lineage.map(_.ok_rows).sum + lineage.map(_.fail_rows).sum == 300)
    assert(lineage.forall(_.status == "committed"))
    assert(lineage.map(_.bytes_in).sum > 0)
  }

  test("lineage: one row per committed bucket, input_rows = that bucket's committed rows") {
    val out = tmpDir()
    val pages = ExtractStage.generatePages(spark, 300, partitions = 8)
    val lineage = ExtractPipeline.run(spark, pages, out, numBuckets = 8, snapshotGroups = 4, runId = "pb")
    assert(lineage.map(_.partition_id) == (0 until 8))
    val committed = ExtractPipeline.readOutput(spark, out).groupBy("part_bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    lineage.foreach { l =>
      assert(l.input_rows == committed.getOrElse(l.partition_id, 0L), s"bucket ${l.partition_id}")
    }
  }

  test("a run reads its input once, however many snapshot groups it commits") {
    import spark.implicits._
    val out = tmpDir()
    val n = 400L
    val reads = spark.sparkContext.longAccumulator("pages-read")
    val pages = ExtractStage.generatePages(spark, n, partitions = 8)
      .map { p => reads.add(1); p }
    ExtractPipeline.run(spark, pages, out, numBuckets = 8, snapshotGroups = 4, runId = "once")
    assert(ExtractPipeline.committedBuckets(out) == (0 until 8).toSet)
    assert(reads.value == n, s"input rows read ${reads.value} times for $n pages")
  }

  test("torn run with non-contiguous remaining buckets resumes to the clean output") {
    import spark.implicits._
    val outClean = tmpDir(); val outTorn = tmpDir()
    val pages = ExtractStage.generatePages(spark, 400, partitions = 8)
    ExtractPipeline.run(spark, pages, outClean, numBuckets = 8, snapshotGroups = 4, runId = "clean")

    // drop manifest lines 1 and 3 of 4: buckets {0,1} and {4,5} remain, so
    // the resume's shuffle slots 0..3 map to buckets 0, 1, 4, 5
    ExtractPipeline.run(spark, pages, outTorn, numBuckets = 8, snapshotGroups = 4, runId = "t1")
    val mf = Paths.get(outTorn, "_manifest", "manifest.jsonl")
    val lines = Files.readAllLines(mf)
    Files.write(mf, (lines.get(1) + "\n" + lines.get(3) + "\n").getBytes("UTF-8"))
    assert(ExtractPipeline.committedBuckets(outTorn) == Set(2, 3, 6, 7))

    val resumed = ExtractPipeline.run(spark, pages, outTorn, numBuckets = 8, snapshotGroups = 4, runId = "t2")
    assert(resumed.map(_.partition_id) == Seq(0, 1, 4, 5))
    assert(ExtractPipeline.committedBuckets(outTorn) == (0 until 8).toSet)

    def rows(dir: String) = ExtractPipeline.readOutput(spark, dir)
      .select($"url", $"part_bucket", $"extracted_text", $"invoice_number")
      .as[(String, Int, String, String)].collect().sortBy(_._1)
    val clean = rows(outClean)
    assert(clean.length == 400)
    assert(clean.sameElements(rows(outTorn)), "resumed output must equal clean-run output")
  }

  test("output layout is bucket(url) + days(warc_ts); point read prunes to one bucket") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = tmpDir()
    val pages = ExtractStage.generatePages(spark, 400, partitions = 8)
    ExtractPipeline.run(spark, pages, out, numBuckets = 16, snapshotGroups = 2, runId = "prune")

    // physical layout: part_bucket=<b>/warc_day=<d> directories exist
    val bucketDirs = new java.io.File(s"$out/data").listFiles().filter(_.isDirectory)
    assert(bucketDirs.nonEmpty && bucketDirs.forall(_.getName.startsWith("part_bucket=")))
    val dayDirs = bucketDirs.head.listFiles().filter(_.isDirectory)
    assert(dayDirs.nonEmpty && dayDirs.forall(_.getName.startsWith("warc_day=")))

    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val outTable = ExtractPipeline.readOutput(spark, out)
    val totalParts = outTable.select("part_bucket", "warc_day").distinct().count()

    // S7 point read: the foldable bucket predicate must statically prune
    // to the partitions of exactly ONE bucket
    val u = PageGen.url(PageGen.DefaultSeed, 7L)
    val bucketOfU = spark.range(1)
      .select(pmod(xxhash64(lit(u)), lit(16)).cast("int")).head().getInt(0)
    val oneBucketParts = outTable.filter(col("part_bucket") === bucketOfU)
      .select("warc_day").distinct().count()
    val lookup = ExtractPipeline.pointLookup(spark, out, u, numBuckets = 16)
    val scan = lookup.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f }.get
    assert(scan.selectedPartitions.partitionCount == oneBucketParts,
      s"point read must scan only bucket $bucketOfU's $oneBucketParts partitions, " +
        s"scanned ${scan.selectedPartitions.partitionCount} of $totalParts")
    val got = lookup.collect()
    assert(got.length == 1 && got.head.getAs[String]("url") == u)

    // days(warc_ts) pruning: a 3-day range selects only those days' dirs
    val rangedParts = outTable
      .filter("warc_day BETWEEN '2025-06-03' AND '2025-06-05'")
      .select("part_bucket", "warc_day").distinct().count()
    val ranged = ExtractPipeline.readDayRange(spark, out, "2025-06-03", "2025-06-05")
    val rscan = ranged.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f }.get
    assert(rscan.selectedPartitions.partitionCount == rangedParts
      && rangedParts < totalParts,
      s"day range must prune to $rangedParts partitions, " +
        s"scanned ${rscan.selectedPartitions.partitionCount} of $totalParts")
    // and the pruned read returns exactly the rows a full-scan filter does
    val full = ExtractPipeline.readOutput(spark, out)
      .filter("to_date(warc_ts) BETWEEN '2025-06-03' AND '2025-06-05'").count()
    assert(ranged.count() == full)
  }

  test("prefix-fallback lookup: exact half prunes to one bucket; fallback scans all (hash-bucket asymmetry)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val out = tmpDir()
    val pages = ExtractStage.generatePages(spark, 400, partitions = 8)
    ExtractPipeline.run(spark, pages, out, numBuckets = 16, snapshotGroups = 2, runId = "pf")
    val outTable = ExtractPipeline.readOutput(spark, out)
    val totalParts = outTable.select("part_bucket", "warc_day").distinct().count()

    // exact HIT: identical to pointLookup — statically pruned to one bucket
    val u = PageGen.url(PageGen.DefaultSeed, 7L)
    val hit = ExtractPipeline.lookupWithPrefixFallback(spark, out, u, numBuckets = 16)
    val hscan = hit.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f }.get
    assert(hscan.selectedPartitions.partitionCount < totalParts,
      "exact probe must be a pruned read")
    val hitRows = hit.collect()
    assert(hitRows.length == 1 && hitRows.head.getAs[String]("url") == u)

    // exact MISS → prefix fallback: returns every startswith match, but the
    // scan CANNOT bucket-prune — part_bucket hashes the full url, so a
    // prefix determines no bucket (the documented hash-bucketing trade)
    val prefix = u.stripSuffix(".html")
    val fb = ExtractPipeline.lookupWithPrefixFallback(spark, out, prefix, numBuckets = 16)
    val expect = outTable.filter(col("url").startsWith(prefix)).count()
    assert(expect >= 1 && fb.count() == expect)
    val fscan = fb.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f }.get
    assert(fscan.selectedPartitions.partitionCount == totalParts,
      "prefix fallback necessarily scans every bucket under hash bucketing")
  }

  test("dashboard stats over the lineage manifest (q61): totals, rate, lag delta") {
    val df = graft.PagesQueries.queries("q61_dashboard_stats")(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length == 4) // one per snapshot group
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 300) // every page accounted once
    assert(rows.forall(_.getAs[Double]("success_rate") == 100.0))
    assert(rows.forall(_.getAs[Double]("avg_ms_per_doc") >= 0.0))
    // lag semantics: first snapshot has no predecessor; each delta checks out
    assert(rows.head.isNullAt(rows.head.fieldIndex("prev_docs")))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("prev_docs") == a.getAs[Long]("n_docs"))
        assert(b.getAs[Long]("delta_docs") == b.getAs[Long]("n_docs") - a.getAs[Long]("n_docs"))
      case _ =>
    }
  }

  test("two-sheet export: metadata + products projections (K3/K4)") {
    val out = tmpDir()
    val extracted = ExtractStage.generateAndExtract(spark, 100, partitions = 4).toDF()
    Export.writeTwoSheet(extracted, out)
    val meta = spark.read.option("header", "true").csv(s"$out/invoice_details")
    val prods = spark.read.option("header", "true").csv(s"$out/products")
    assert(meta.count() == 100) // one row per document
    val expectedProducts = extracted.selectExpr("sum(n_products)").first().getLong(0)
    assert(prods.count() == expectedProducts) // one row per product
    assert(meta.columns.contains("invoice_number") && meta.columns.contains("fssai_number"))
    assert(prods.columns.contains("goods_description") && prods.columns.contains("weight_in_kg"))
    // header fields are broadcast onto every product row (K4 shape)
    assert(prods.columns.contains("invoice_number") && prods.columns.contains("company_name"))
  }

  test("csv and json sinks round-trip the exploded export shape (K1/K2)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = tmpDir()
    val pages = ExtractStage.generatePages(spark, 100, partitions = 4)
    val exploded = ExtractStage.run(pages).toDF()
      .select($"url", $"company_name", $"invoice_number", $"invoice_date",
        explode_outer($"products").as("p"))
      .select($"url", $"company_name", $"invoice_number", $"invoice_date",
        $"p.goods_description", $"p.quantity", $"p.weight", $"p.rate", $"p.amount")
    val n = exploded.count()
    exploded.write.option("header", "true").csv(s"$out/csv")
    exploded.write.json(s"$out/json")
    val csvBack = spark.read.option("header", "true").csv(s"$out/csv")
    val jsonBack = spark.read.json(s"$out/json")
    assert(csvBack.count() == n)
    assert(jsonBack.count() == n)
    // explode_outer keeps pages with zero products as a single null-product row
    assert(n >= 100)
  }

  test("structured streaming: the extract stage runs in a readStream pipeline") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // stage a pages table as the stream source, then run the SAME extract
    // core inside the streaming query (readStream → mapPartitions-shaped
    // select → memory sink) and check against the batch run
    val srcDir = tmpDir()
    val pages = ExtractStage.generatePages(spark, 200, partitions = 4)
    pages.write.parquet(s"$srcDir/pages")
    val schema = spark.read.parquet(s"$srcDir/pages").schema

    graft.functions.GraftFunctions.register(spark)
    val stream = spark.readStream.schema(schema).parquet(s"$srcDir/pages")
      .select($"url", graft.functions.GraftFunctions.extract_main_content($"html").as("ex"))
      .select($"url", length($"ex.text").as("len"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("stream_extract").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT url, len FROM stream_extract")
      .as[(String, Int)].collect().toMap
    assert(streamed.size == 200)
    val batch = ExtractStage.run(pages).select($"url", $"extracted_text").as[(String, String)].collect()
    batch.foreach { case (url, text) =>
      // streaming path lacks the text-column fallback by design (column-level
      // expression); compare where the payload itself yielded text
      val (coreText, _) = graft.core.ExtractCore.extractText(
        PageGen.page(PageGen.DefaultSeed, url.split("page-")(1).split("\\.")(0).toLong).html, null)
      assert(streamed(url) == coreText.length, s"stream/core drift for $url")
      val _ = text
    }
  }

  test("structured streaming: stateful sessionization via flatMapGroupsWithState") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    val dir = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$dir/events.parquet")
      .select($"user_id", $"ts".cast("timestamp").as("ts"))

    // two REAL micro-batches in event-time order: first half of the
    // timeline lands before the stream starts, second half is appended
    // between processAllAvailable calls — session state must carry across
    val cutoff = events.agg(expr("percentile_approx(unix_seconds(ts), 0.5)")).first().getLong(0)
    val streamDir = graft.TestDirs.create("graft-sess")
    events.filter(unix_seconds($"ts") <= cutoff)
      .coalesce(1).write.mode("append").parquet(streamDir.toString)

    def sessionize(uid: Long, evs: Iterator[SessEv],
        state: GroupState[SessState]): Iterator[(Long, Long)] = {
      // batches arrive in time order; within a batch, sort the group
      val sorted = evs.map(_.ts.getTime / 1000).toSeq.sorted
      var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
      sorted.foreach { sec =>
        st = if (st.lastSec == Long.MinValue || sec - st.lastSec > 1800)
          SessState(sec, st.n + 1) else SessState(sec, st.n)
      }
      state.update(st)
      Iterator((uid, st.n))
    }

    val schema = events.schema
    val q = spark.readStream.schema(schema).parquet(streamDir.toString)
      .as[SessEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(sessionize _)
      .toDF("user_id", "n_sessions")
      .writeStream.outputMode("update")
      .format("memory").queryName("sess_state").start()
    q.processAllAvailable()
    events.filter(unix_seconds($"ts") > cutoff)
      .coalesce(1).write.mode("append").parquet(streamDir.toString)
    q.processAllAvailable()
    q.stop()

    // update mode appends one row per (user, batch); n is monotone — the
    // final per-user session count is the max
    val streamed = spark.sql(
      "SELECT user_id, max(n_sessions) AS n FROM sess_state GROUP BY user_id")
      .as[(Long, Long)].collect().toMap

    // batch reference: the q45 lag + running-sum sessionization
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val batch = events
      .withColumn("prev", lag($"ts", 1).over(byUser))
      .withColumn("new_s", when($"prev".isNull ||
        unix_seconds($"ts") - unix_seconds($"prev") > 1800, 1).otherwise(0))
      .groupBy($"user_id").agg(sum($"new_s").as("n"))
      .as[(Long, Long)].collect().toMap

    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (u, n) =>
      assert(n == batch(u), s"user $u: streamed $n sessions, batch ${batch(u)}")
    }
  }

  test("structured streaming: windowed counts over the events table") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // file source needs a directory: stage the single parquet into one
    val streamDir = graft.TestDirs.create("graft-stream")
    Files.copy(Paths.get(s"$dir/events.parquet"), streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", $"ts".cast("timestamp")) // parquet NTZ → event-time type
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ev_windows").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT count(*) FROM ev_windows").first().getLong(0)
    val expected = spark.read.parquet(s"$dir/events.parquet")
      .select(date_trunc("hour", $"ts").as("h"), $"event_type").distinct().count()
    assert(got == expected, s"stream windows $got != batch windows $expected")
  }

  test("manifest snapshot-compaction folds 100+ lines to one, committedBuckets unchanged") {
    val out = tmpDir()
    // a long-lived job: 120 snapshots, 2 buckets each
    (0 until 120).foreach { i =>
      ExtractPipeline.appendManifest(out, "long", f"snap-$i%03d",
        Seq(i % 64, 64 + i % 64),
        Seq(LineageRow("long", f"snap-$i%03d", i, 10, 10, 0, 100, 5, "committed")))
    }
    val mf = java.nio.file.Paths.get(out, "_manifest", "manifest.jsonl")
    assert(java.nio.file.Files.readAllLines(mf).size == 120)
    val before = ExtractPipeline.committedBuckets(out)
    assert(before.size == 128)

    val folded = ExtractPipeline.compactManifest(out)
    assert(folded == 120)
    assert(java.nio.file.Files.readAllLines(mf).size == 1)
    assert(ExtractPipeline.committedBuckets(out) == before,
      "compaction must preserve the committed-bucket set exactly")
    // history survives in the archive
    val arch = java.nio.file.Paths.get(out, "_manifest", "manifest_archive.jsonl")
    assert(java.nio.file.Files.readAllLines(arch).size == 120)
    // idempotent: nothing further to fold, resume still a no-op
    assert(ExtractPipeline.compactManifest(out) == 0)
    ExtractPipeline.appendManifest(out, "more", "snap-more", Seq(200),
      Seq(LineageRow("more", "snap-more", 0, 1, 1, 0, 10, 1, "committed")))
    assert(ExtractPipeline.committedBuckets(out) == before + 200)
    assert(ExtractPipeline.compactManifest(out) == 2)
  }

  test("time travel: readAsOf reproduces each snapshot head, survives compaction") {
    import spark.implicits._
    val out = tmpDir()
    val pages = ExtractStage.generatePages(spark, 400, partitions = 8)
    ExtractPipeline.run(spark, pages, out, numBuckets = 8, snapshotGroups = 4, runId = "tt")

    val hist = ExtractPipeline.snapshotHistory(out)
    assert(hist.map(_._1) == (0 until 4).map(i => f"snap-tt-$i%03d"))
    assert(hist.flatMap(_._2).toSet == (0 until 8).toSet)

    // as-of each snapshot == exactly the rows of the buckets committed so far
    val full = ExtractPipeline.readOutput(spark, out)
      .select($"url", $"part_bucket").as[(String, Int)].collect().toSet
    hist.indices.foreach { i =>
      val expectBuckets = hist.take(i + 1).flatMap(_._2).toSet
      val got = ExtractPipeline.readAsOf(spark, out, hist(i)._1)
        .select($"url", $"part_bucket").as[(String, Int)].collect().toSet
      assert(got == full.filter(r => expectBuckets(r._2)), s"as-of ${hist(i)._1}")
    }
    // the as-of scan prunes: only the asked-for buckets' directories appear
    val plan = ExtractPipeline.readAsOf(spark, out, hist.head._1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "bucket filter must prune partitions")

    // unknown snapshot is an explicit error, not an empty read
    intercept[IllegalArgumentException] {
      ExtractPipeline.readAsOf(spark, out, "snap-nope")
    }

    // compaction moves history to the archive; as-of still answers
    assert(ExtractPipeline.compactManifest(out) == 4)
    val hist2 = ExtractPipeline.snapshotHistory(out)
    assert(hist2 == hist, "history must survive manifest compaction")
    val got0 = ExtractPipeline.readAsOf(spark, out, hist.head._1)
      .select($"url", $"part_bucket").as[(String, Int)].collect().toSet
    assert(got0 == full.filter(r => hist.head._2(r._2)))

    // a SECOND compaction archives the first compaction's marker line —
    // it must not surface as a phantom snapshot in the history
    ExtractPipeline.appendManifest(out, "tt2", "snap-tt2-000", Seq(0),
      Seq(LineageRow("tt2", "snap-tt2-000", 0, 1, 1, 0, 1, 1, "committed")))
    assert(ExtractPipeline.compactManifest(out) == 2)
    val hist3 = ExtractPipeline.snapshotHistory(out)
    assert(hist3.map(_._1) == hist.map(_._1) :+ "snap-tt2-000",
      s"phantom snapshot in $hist3")
    intercept[IllegalArgumentException] {
      ExtractPipeline.readAsOf(spark, out, "compact")
    }
  }
}
