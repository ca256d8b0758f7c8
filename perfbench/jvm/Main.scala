package perfbench

import graft.pipeline.PageGen
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** JVM side of the benchmark: runs one workload, measures it, checks its
  * outputs, and writes a raw record (samples, spans, counts) that
  * `run.py` reduces to metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *             --work DIR --out FILE [--tables DIR]
  *
  * `--tables` is the directory of the sf0.1 tables, for `query` only.
  */
object Main {
  /** Pages in the `extract` table. */
  val ExtractPages = 10000L

  def session(cores: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  def workload(name: String, tables: Option[String]): Workload = name match {
    case "extract" => new ExtractWorkload(ExtractPages)
    case "query" => new QueryWorkload(QueryWorkload.Names,
      tables.getOrElse(throw new IllegalArgumentException("query needs --tables DIR")))
    case "release" => new ReleaseWorkload
    case "stream" => new StreamWorkload(Pins.Stream)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cores = o("cores").toInt
    val work = o("work")
    val w = workload(o("workload"), o.get("tables"))

    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("WARN")
    val startup = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0Ns = System.nanoTime()
    val tracer = new Tracer(spark.sparkContext, s"${w.name}-$seed")
    val ctx = new Ctx(spark, cores, seed, work, tracer)

    // a traced run reports no setup_s, so it sets up once
    val setupSamples = (0 until (if (trace) w.setupRepeats min 1 else w.setupRepeats)).map(_ => w.setupOnce(ctx))
    val setupFixed = w.setupFixed(ctx)
    // heap_peak_mb is an end-to-end metric: sampled in untraced runs only
    if (!trace) HeapWatch.sample()

    // a traced run probes the layers first, so the job calls below it run
    // in a JVM that has already run every layer
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val probes = new Probes(ctx, w)
    if (trace) {
      tracer.enable()
      layer ++= probes.run()
      tracer.disable()
    }

    // untraced iterations until the measuring window is used up
    val walls = ArrayBuffer.empty[Double]
    val tm = System.nanoTime()
    while (walls.size < (if (trace) 1 else w.minIterations) ||
        (System.nanoTime() - tm) / 1e9 < seconds) {
      walls += w.iteration(ctx, walls.size)
      if (!trace) HeapWatch.sample()
    }

    if (trace) {
      tracer.enable()
      // Spark work outside any span (a streaming query's own job groups)
      // counts for the traced call only if it ran during that call
      val otherBefore = tracer.otherGroups()
      layer("traced_wall_s") = tracer.span("traced-iteration")(w.iteration(ctx, walls.size))
      layer("other_groups") = tracer.otherGroups().map { case (k, v) => k -> (v - otherBefore.getOrElse(k, 0L)) }
      // one more untraced call after the traced one, the reference of the
      // tracing overhead (the call before it may still be warming up)
      tracer.disable()
      layer("untraced_after_s") = w.iteration(ctx, walls.size + 1)
      layer ++= probes.records()
    }

    // host control: the frozen Bench's single-thread core rate
    val control = CoreProbe.singleThreadRate(
      (0 until 3000).map(i => PageGen.page(PageGen.DefaultSeed, i.toLong)).toArray)

    val record = Map(
      "workload" -> w.name, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "docs" -> w.docs,
      "startup_s" -> startup,
      "setup_samples_s" -> setupSamples,
      "setup_fixed_s" -> setupFixed,
      "iteration_walls_s" -> walls.toSeq,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures.toSeq,
      "single_thread_docs_per_s" -> control,
      "heap_peak_mb" -> HeapWatch.peakMb,
      "spans" -> tracer.toRecords(t0Ns),
      "layer" -> layer,
      "workload_record" -> w.extra(ctx))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(new java.io.File(o("out")), record)
    spark.stop()
  }
}
