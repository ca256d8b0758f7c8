package perfbench

import graft.core.ExtractCore
import graft.pipeline._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer

/** What one run shares with its workload: the session, the knobs, the
  * tracer and the operation counts behind `failed_frac`.
  */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
    val work: String, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  /** Counts `n` operations, `bad` of them failed, with a reason. */
  def ops(n: Long, bad: Long, reason: => String): Unit = {
    attempted += n
    if (bad > 0) { failed += bad; failures += reason }
  }
}

object Timed {
  def apply[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Files {
  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  def listRecursive(path: String): Seq[java.io.File] = {
    val root = new java.io.File(path)
    if (!root.exists()) Seq.empty
    else org.apache.commons.io.FileUtils.listFiles(root, null, true).toArray(Array.empty[java.io.File]).toSeq
  }

  def parquetFiles(path: String): Seq[java.io.File] =
    listRecursive(path).filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  def bytes(path: String): Long = parquetFiles(path).map(_.length).sum
}

/** A benchmark workload: set-up (part of it repeatable), then one measured
  * iteration at a time. Each iteration checks its own output and counts
  * its operations on the [[Ctx]].
  */
trait Workload {
  def name: String
  /** Input documents per iteration, the numerator of `docs_per_s`. */
  def docs: Long
  /** Set-up that is repeated; returns its seconds. */
  def setupOnce(ctx: Ctx): Double
  def setupRepeats: Int = 3
  /** Set-up done once (reference outputs, staging); returns its seconds. */
  def setupFixed(ctx: Ctx): Double = 0.0
  /** Measured iterations an untraced run makes at least. */
  def minIterations: Int = 1
  /** One measured iteration: the wall seconds of the composed job. */
  def iteration(ctx: Ctx, i: Int): Double
  /** Extra per-run records (per-iteration details, layer data). */
  def extra(ctx: Ctx): Map[String, Any] = Map.empty
}

/** Single-thread reference for the extract check: `ExtractCore.processPage`
  * over the same seeded rows the pages table holds, spread over plain
  * threads (no Spark), combined with the same digest as the committed table.
  */
final case class Reference(digest: Long, failedUrls: Set[String], pages: Long)

object Reference {
  def compute(seed: Long, from: Long, until: Long, threads: Int): Reference = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val parts = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[(Long, Set[String])] {
          def call(): (Long, Set[String]) = {
            var sum = 0L
            val bad = Set.newBuilder[String]
            var i = from + t
            while (i < until) {
              val p = PageGen.page(seed, i)
              val r = ExtractCore.processPage(p.html, p.text)
              val rec = r.record
              sum += Digest.page(p.url, r.extractedText, r.spans.map(s => (s.label, s.start, s.end)),
                rec.companyName, rec.invoiceNumber, rec.fssaiNumber, rec.invoiceDate, rec.products.length)
              if (!rec.success) bad += p.url
              i += threads
            }
            (sum, bad.result())
          }
        })
      }.map(_.get())
      Reference(parts.map(_._1).sum, parts.flatMap(_._2).toSet, until - from)
    } finally pool.shutdown()
  }

  /** Digest + failing urls of a committed extract table. */
  def ofTable(spark: SparkSession, outDir: String): (Long, Long, Array[String]) = {
    val df = ExtractPipeline.readOutput(spark, outDir)
    val digest = df.select("url", "extracted_text", "spans", "company_name", "invoice_number",
        "fssai_number", "invoice_date", "n_products").rdd
      .map { r =>
        val spans = r.getSeq[Row](2).map(s => (s.getString(0), s.getInt(1), s.getInt(2)))
        Digest.page(r.getString(0), r.getString(1), spans, r.getString(3), r.getString(4),
          r.getString(5), r.getString(6), r.getInt(7))
      }.fold(0L)(_ + _)
    val rows = df.count()
    val failedUrls = df.filter(!col("success")).select("url").collect().map(_.getString(0))
    (digest, rows, failedUrls)
  }
}

/** `ExtractPipeline.run` (32 buckets, 4 snapshot groups) over a seeded pages
  * table written in set-up from PageGen's default payload mix.
  */
final class ExtractWorkload(val docs: Long) extends Workload {
  val name = "extract"
  override def minIterations = 3
  val WarmupPages = 3000L
  val WarmupCalls = 3
  private var reference: Reference = _
  private val details = ArrayBuffer.empty[Map[String, Any]]
  def pagesDir(ctx: Ctx) = s"${ctx.work}/pages"

  def setupOnce(ctx: Ctx): Double = Timed {
    ExtractStage.generatePages(ctx.spark, docs, ctx.seed, partitions = ctx.cores * 2)
      .write.mode("overwrite").parquet(pagesDir(ctx))
  }._2

  /** The single-thread reference, then warm-up job calls on a small table
    * until the JIT has settled, so the measured calls run warm.
    */
  override def setupFixed(ctx: Ctx): Double = Timed {
    reference = Reference.compute(ctx.seed, 0L, docs, ctx.cores)
    val warm = s"${ctx.work}/warmup"
    ExtractStage.generatePages(ctx.spark, WarmupPages, ctx.seed, partitions = ctx.cores * 2)
      .write.mode("overwrite").parquet(s"$warm/pages")
    import ctx.spark.implicits._
    (0 until WarmupCalls).foreach { i =>
      ExtractPipeline.run(ctx.spark, ctx.spark.read.parquet(s"$warm/pages").as[Page], s"$warm/out-$i",
        numBuckets = 32, snapshotGroups = 4, runId = s"warmup-$i")
    }
    Files.delete(warm)
  }._2

  def pages(ctx: Ctx) = {
    import ctx.spark.implicits._
    ctx.spark.read.parquet(pagesDir(ctx)).as[Page]
  }

  def iteration(ctx: Ctx, i: Int): Double = {
    val out = s"${ctx.work}/extract-out-$i"
    Files.delete(out)
    val (ok, wall) = Timed {
      try { ctx.tracer.span("ExtractPipeline.run") {
        ExtractPipeline.run(ctx.spark, pages(ctx), out, numBuckets = 32, snapshotGroups = 4,
          runId = s"bench-$i") }; true }
      catch { case e: Exception => ctx.ops(1 + docs, 1 + docs, s"ExtractPipeline.run threw: $e"); false }
    }
    if (ok) {
      val (digest, rows, failedUrls) = ctx.tracer.span("check")(Reference.ofTable(ctx.spark, out))
      val regressed = failedUrls.count(u => !reference.failedUrls(u)).toLong
      val bad = (if (digest != reference.digest || rows != docs) 1L else 0L) + regressed
      ctx.ops(1 + docs, bad,
        s"extract iteration $i: digest ${Digest.hex(digest)} vs single-thread core " +
          s"${Digest.hex(reference.digest)}, rows $rows/$docs, $regressed pages success=false")
      details += Map("wall_s" -> wall, "files_written" -> Files.parquetFiles(s"$out/data").size,
        "digest" -> Digest.hex(digest))
    }
    Files.delete(out)
    wall
  }

  /** The pipeline alone, traced, without the output check (layer probe). */
  def pipelineOnly(ctx: Ctx): Int = {
    val out = s"${ctx.work}/extract-probe-out"
    Files.delete(out)
    ctx.tracer.span("ExtractPipeline.run") {
      ExtractPipeline.run(ctx.spark, pages(ctx), out, numBuckets = 32, snapshotGroups = 4,
        runId = "probe")
    }
    val files = Files.parquetFiles(s"$out/data").size
    Files.delete(out)
    files
  }

  /** Stage-only run of the same table into a `noop` sink. */
  def stageOnly(ctx: Ctx): Double = Timed {
    ctx.tracer.span("ExtractStage.run") {
      ExtractStage.run(pages(ctx)).write.format("noop").mode("overwrite").save()
    }
  }._2

  override def extra(ctx: Ctx): Map[String, Any] = Map(
    "iterations_detail" -> details.toSeq,
    "pages_table_bytes" -> Files.bytes(pagesDir(ctx)),
    "reference_digest" -> Digest.hex(reference.digest))
}

/** One round of declared queries over a directory of tables, each round
  * in a fresh `newSession()` with cached blocks released in between, so
  * the per-session memo maps cannot turn later rounds into cache hits.
  * The `query` workload runs [[QueryWorkload.Names]] over the sf0.1
  * testdata tables; the traced runs of the other workloads run the two
  * PagesQueries among them, which generate their own pages and read no
  * table (their directory only names the scale).
  */
final class QueryWorkload(names: Seq[String], tablesDir: String) extends Workload {
  val name = "query"
  /** Rows of the documents table (the numerator of `docs_per_s`). */
  var docs = 0L
  /** Outputs that carry wall-clock measurements and so differ per round. */
  private val Timing = Set("q61_dashboard_stats")
  def resultsDir(ctx: Ctx) = s"${ctx.work}/results"
  private val firstDigest = scala.collection.mutable.Map.empty[String, Long]
  val perQuery = ArrayBuffer.empty[Map[String, Any]]

  override def setupRepeats = 0
  def setupOnce(ctx: Ctx): Double = 0.0
  override def setupFixed(ctx: Ctx): Double = Timed {
    docs = ctx.spark.read.parquet(s"$tablesDir/documents.parquet").count()
  }._2

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def count(p: SparkPlan): Int = p match {
      // before the query runs, AQE's current plan is its initial plan,
      // Exchanges included (its inputPlan predates EnsureRequirements)
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case _ =>
        p.collect { case e: Exchange => e }.size +
          p.collect { case a: AdaptiveSparkPlanExec => count(a.executedPlan) }.sum +
          p.subqueries.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  def iteration(ctx: Ctx, i: Int): Double = {
    val (_, wall) = Timed {
      val s = ctx.spark.newSession()
      ctx.tracer.span("round") {
        names.foreach { q =>
          val t0 = System.nanoTime()
          val res = try {
            ctx.tracer.span(q) {
              val df = graft.SparkEntry.queries(q)(s, tablesDir)
              val ex = if (ctx.tracer.enabled) exchanges(df) else -1
              Right((df.schema, df.collect(), ex))
            }
          } catch { case e: Exception => Left(e.toString) }
          val secs = (System.nanoTime() - t0) / 1e9
          res match {
            case Left(err) => ctx.ops(1, 1, s"$q threw: $err")
            case Right((schema, rows, ex)) =>
              perQuery += Map("round" -> i, "name" -> q, "s" -> secs, "exchanges" -> ex,
                "rows" -> rows.length)
              check(ctx, i, q, schema, rows)
          }
        }
      }
    }
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    ctx.spark.catalog.clearCache()
    wall
  }

  /** Round 0 writes each output for the DuckDB oracle check in `run.py`
    * (q50/q61 have no oracle and are checked here); later rounds must
    * reproduce round 0's rows exactly.
    */
  private def check(ctx: Ctx, i: Int, q: String, schema: org.apache.spark.sql.types.StructType,
      rows: Array[Row]): Unit = {
    val d = Digest.rows(rows.toSeq)
    if (i == 0) {
      firstDigest(q) = d
      val bad = q match {
        case "q50_extract_patterns" => q50Mismatch(rows)
        case "q61_dashboard_stats" => q61Mismatch(rows)
        case _ =>
          ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
            .write.mode("overwrite").parquet(s"${resultsDir(ctx)}/$q")
          None
      }
      ctx.ops(1, if (bad.isDefined) 1 else 0, s"$q: ${bad.getOrElse("")}")
    } else {
      val same = Timing(q) || firstDigest.get(q).contains(d)
      ctx.ops(1, if (same) 0 else 1, s"$q round $i differs from round 0")
    }
  }

  /** q50 ≡ the single-thread core over the same 4,000 generated pages. */
  private def q50Mismatch(rows: Array[Row]): Option[String] = {
    val ref = (0L until 4000L).map { i =>
      val p = PageGen.page(PageGen.DefaultSeed, i)
      val r = ExtractCore.processPage(p.html, p.text)
      (r.record.success, r.record.patternUsed, r.extractedText.length, r.record.products.length)
    }.groupBy(x => (x._1, x._2)).map { case ((ok, pat), xs) =>
      val avg = BigDecimal(xs.map(_._3.toLong).sum.toDouble / xs.size)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      s"$ok|$pat|${xs.size}|$avg|${xs.map(_._4.toLong).sum}"
    }.toSeq.sorted
    val got = rows.map(r => s"${r.getBoolean(0)}|${r.getString(1)}|${r.getLong(2)}|" +
      s"${r.getDouble(3)}|${r.getLong(4)}").toSeq.sorted
    if (got == ref) None else Some(s"rows $got vs single-thread core $ref")
  }

  /** q61: one row per committed snapshot, all 4,000 pages ok. */
  private def q61Mismatch(rows: Array[Row]): Option[String] = {
    val docs = rows.map(_.getAs[Long]("n_docs")).sum
    val rates = rows.map(_.getAs[Double]("success_rate")).toSet
    if (rows.length == 4 && docs == 4000L && rates == Set(100.0)) None
    else Some(s"${rows.length} snapshots, $docs docs, success rates $rates")
  }

  override def extra(ctx: Ctx): Map[String, Any] = Map(
    "queries" -> perQuery.toSeq, "tables_dir" -> tablesDir, "results_dir" -> resultsDir(ctx),
    "oracle_sql" -> names.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
}

object QueryWorkload {
  /** The `query` round: every open query item in ROADMAP plus three SQL
    * queries dominated by fixed stage cost.
    */
  val Names: Seq[String] = Seq("q01_scan_agg", "q04_join_broadcast", "q18_subquery_avg",
    "q31_ngram_jaccard", "q48_knn_ivf", "q50_extract_patterns", "q61_dashboard_stats",
    "q67_canonical_dedup", "q76_langid_ngram", "q80_lm_quality", "q87_substring_dedup",
    "q99_bm25_topk", "q103_sitemap_modified", "q108_bm25_fielded", "q110_phrase_search",
    "q114_pmi_collocations", "q119_curation_funnel", "q124_pq_adc")
  /** The queries of the round that read no fixture table. */
  val PagesOnly: Seq[String] = Seq("q50_extract_patterns", "q61_dashboard_stats")
}

/** The `RunRelease` composition at its pinned size (see [[ReleaseJob]]). */
final class ReleaseWorkload extends Workload {
  val name = "release"
  val docs: Long = Pins.Release.pages
  override def setupRepeats = 0
  def setupOnce(ctx: Ctx): Double = 0.0
  private val details = ArrayBuffer.empty[Map[String, Any]]

  def iteration(ctx: Ctx, i: Int): Double = {
    val out = s"${ctx.work}/release-$i"
    Files.delete(out)
    val (res, wall) = Timed {
      try Right(ReleaseJob.run(ctx.spark, docs, out, ctx.cores, ctx.tracer))
      catch { case e: Exception => Left(e.toString) }
    }
    val checked = res.flatMap { _ =>
      try Right(ctx.tracer.span("check")(ReleaseJob.check(ctx.spark, out)))
      catch { case e: Exception => Left(e.toString) }
    }
    checked match {
      case Left(err) => ctx.ops(ReleaseJob.Calls, ReleaseJob.Calls, s"release threw: $err")
      case Right(r) =>
        val p = Pins.Release
        val bad = Seq(r.headDigest != p.headDigest, r.asOf0Digest != p.asOf0Digest, r.kept != p.kept).count(identity)
        ctx.ops(ReleaseJob.Calls, bad,
          s"release at ${p.pages} pages: headDigest=${r.headDigest} asOf0Digest=${r.asOf0Digest} " +
            s"kept=${r.kept}; pinned ${p.headDigest}/${p.asOf0Digest}/${p.kept}")
        details += Map("wall_s" -> wall, "head_digest" -> r.headDigest,
          "asof0_digest" -> r.asOf0Digest, "kept" -> r.kept)
    }
    Files.delete(out)
    wall
  }

  override def extra(ctx: Ctx): Map[String, Any] = Map("iterations_detail" -> details.toSeq)
}

/** The `RunContinuous` composition at a pinned size: WARC segments staged
  * in set-up, then a closed-loop stream (one segment per trigger) that
  * extract-commits and curates each micro-batch incrementally. The
  * `stream` workload runs [[Pins.Stream]], the traced runs' layer probe
  * the smaller [[Pins.StreamProbe]].
  */
final class StreamWorkload(p: Pins.StreamPin) extends Workload {
  val name = "stream"
  val docs: Long = p.pages
  def landing(ctx: Ctx) = s"${ctx.work}/landing"
  private val batches = ArrayBuffer.empty[Double]
  private val addBatchMs = ArrayBuffer.empty[Double]
  private val triggerMs = ArrayBuffer.empty[Double]
  private val details = ArrayBuffer.empty[Map[String, Any]]

  def setupOnce(ctx: Ctx): Double = Timed {
    import ctx.spark.implicits._
    Files.delete(landing(ctx))
    val pages = ExtractStage.generatePages(ctx.spark, docs, partitions = p.segments)
    WarcWriter.write(ctx.spark, pages.as[Page], landing(ctx))
  }._2

  def iteration(ctx: Ctx, i: Int): Double = {
    val out = s"${ctx.work}/stream-$i"
    Files.delete(out)
    val listener = if (ctx.tracer.enabled) Some(new StreamLayer) else None
    listener.foreach(ctx.spark.streams.addListener)
    val (res, wall) = Timed {
      try Right(ctx.tracer.span("StreamingIngest.startCurated") {
        val stream = WarcSource.readPagesStream(ctx.spark, landing(ctx), maxFilesPerTrigger = Some(1))
        val q = StreamingIngest.startCurated(stream, s"$out/extract", s"$out/curated",
          s"$out/ckpt", numBuckets = 32)
        q.processAllAvailable()
        q.stop()
        q.recentProgress.filter(_.numInputRows > 0).map(_.batchDuration / 1000.0).toSeq
      }) catch { case e: Exception => Left(e.toString) }
    }
    listener.foreach { l =>
      org.apache.spark.perfbench.ListenerDrain(ctx.spark.sparkContext)
      ctx.spark.streams.removeListener(l)
      addBatchMs ++= l.addBatch; triggerMs ++= l.trigger
    }
    res match {
      case Left(err) => ctx.ops(1 + p.segments, 1 + p.segments, s"stream threw: $err")
      case Right(durations) =>
        batches ++= durations
        val (kept, digest) = ctx.tracer.span("check") {
          val k = CuratedPipeline.readKept(ctx.spark, s"$out/curated")
          (k.count(), k.selectExpr(
            "xxhash64(url, extracted_text, invoice_number, cast(n_products AS STRING)) AS h")
            .selectExpr("conv(cast(aggregate(collect_list(h), 0L, (a, x) -> a ^ x) AS STRING), 10, 16) AS d")
            .first().getString(0))
        }
        val committed = StreamingIngest.committedBatches(s"$out/extract").size
        val bad = (if (kept != p.kept || digest != p.digest) 1 else 0) + math.max(0, p.segments - committed)
        ctx.ops(1 + p.segments, bad,
          s"stream at ${p.pages} pages/${p.segments} segments: digest=$digest kept=$kept " +
            s"batches=$committed; pinned ${p.digest}/${p.kept}/${p.segments}")
        details += Map("wall_s" -> wall, "digest" -> digest, "kept" -> kept, "batches" -> committed)
    }
    Files.delete(out)
    wall
  }

  override def extra(ctx: Ctx): Map[String, Any] = Map(
    "batch_s" -> batches.toSeq, "add_batch_ms" -> addBatchMs.toSeq,
    "trigger_execution_ms" -> triggerMs.toSeq, "iterations_detail" -> details.toSeq)
}

/** Reads `durationMs` of every non-empty micro-batch. */
final class StreamLayer extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  val addBatch = ArrayBuffer.empty[Double]
  val trigger = ArrayBuffer.empty[Double]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    if (e.progress.numInputRows > 0 && d.containsKey("addBatch") && d.containsKey("triggerExecution")) {
      addBatch += d.get("addBatch").doubleValue
      trigger += d.get("triggerExecution").doubleValue
    }
  }
}

/** Pipeline digests pinned together with the sizes they belong to. */
object Pins {
  final case class ReleasePin(pages: Long, headDigest: String, asOf0Digest: String, kept: Long)
  final case class StreamPin(pages: Long, segments: Int, digest: String, kept: Long)
  val Release = ReleasePin(3000L, "FFFFFFFFB60D2684", "FFFFFFFFD492FEDC", 150L)
  val Stream = StreamPin(2000L, 4, "6CF157C04542E08E", 1582L)
  /** As `RunContinuous 400 4` prints it at local[4]. */
  val StreamProbe = StreamPin(400L, 4, "663793C63CBC11A2", 334L)
}
