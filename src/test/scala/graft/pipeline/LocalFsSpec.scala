package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

class LocalFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("localfs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The child processes `f` starts, from an in-process flight recording
    * of `jdk.ProcessStart`: each command line with the classes of the
    * frames that started it, innermost first.
    */
  private def processesStartedBy(f: => Unit): Seq[(String, Seq[String])] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val dump = Files.createTempFile("graft-proc", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => (e.getString("command"),
          // an event may carry no stack (Spark's `getconf PAGESIZE` probe)
          Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(_.getMethod.getType.getName)))
    } finally { rec.close(); Files.delete(dump) }
  }

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("ExtractPipeline.run starts no child process (no forked chmod); files and dirs keep Hadoop's modes") {
    val pages = ExtractStage.generatePages(spark, 200, partitions = 4)
    // a first run loads the classes and the write path once, outside the recording
    ExtractPipeline.run(spark, pages, graft.TestDirs.create("graft-fs-warm").toString,
      numBuckets = 4, snapshotGroups = 2)

    val out = graft.TestDirs.create("graft-fs").toString
    // Spark's executor-metrics getter (ProcfsMetricsGetter) forks
    // `getconf PAGESIZE` once per JVM, at the first heartbeat, which may
    // fall inside the recording
    val started = processesStartedBy {
      ExtractPipeline.run(spark, pages, out, numBuckets = 8, snapshotGroups = 4, runId = "fs")
    }.filterNot(_._1 == "getconf PAGESIZE")
    assert(ExtractPipeline.committedBuckets(out) == (0 until 8).toSet)
    assert(started.isEmpty, started.map { case (cmd, by) => s"$cmd <- ${by.take(12).mkString(" <- ")}" }
      .mkString("started:\n", "\n", ""))

    val (dirs, files) = Files.walk(Paths.get(out, "data")).iterator().asScala.toSeq
      .partition(Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString.endsWith(".parquet")))
    assert(files.exists(_.getFileName.toString.endsWith(".parquet.crc")))
    files.foreach(f => assert(mode(f) == "rw-r--r--", f.toString))
    assert(dirs.exists(_.getFileName.toString.startsWith("warc_day=")))
    dirs.foreach(d => assert(mode(d) == "rwxr-xr-x", d.toString))
  }

  test("the versioned fold reads, folds and vacuums without starting a child process (no forked ls)") {
    import org.apache.spark.sql.functions.{col, lit}
    // two committed prefixes batch=0, batch=1 of 40 rows each
    def table(): String = {
      val dir = graft.TestDirs.create("graft-fs-fold").toString
      Seq(0L, 1L).foreach { k =>
        Commit.write(spark.range(40).select(col("id"), (col("id") % 4).cast("int").as("part_bucket"),
          lit("2025-06-01").as("warc_day"), lit(k).as("batch")),
          s"$dir/data", "batch", "part_bucket", "warc_day")
      }
      dir
    }
    def foldCycle(dir: String): (Long, Long, Long) = {
      val before = Commit.readFolded(spark, dir, "batch", Set(0L, 1L)).get.count()
      val v = Commit.fold(spark, dir, "batch", Set(0L, 1L), numBuckets = 4)
      Commit.vacuum(spark, dir, "batch")
      (before, v, Commit.readFolded(spark, dir, "batch", Set(0L, 1L)).get.count())
    }
    // a first cycle loads the classes of the read, fold and vacuum paths
    foldCycle(table())

    val dir = table()
    var result = (0L, 0L, 0L)
    val started = processesStartedBy { result = foldCycle(dir) }
      .filterNot(_._1 == "getconf PAGESIZE")
    assert(result == (80L, 1L, 80L))
    assert(!Files.exists(Paths.get(dir, "data", "batch=0")))
    assert(started.isEmpty, started.map { case (cmd, by) => s"$cmd <- ${by.take(12).mkString(" <- ")}" }
      .mkString("started:\n", "\n", ""))
  }

  test("source guard: every graft.pipeline write binds file: through LocalFs") {
    val root = Paths.get("src/main/scala/graft/pipeline")
    // a DataFrameWriter chain, from `.write` to its sink call
    val writer = """(?s)\.write(?![\w(]).*?\.(?:parquet|csv|json|text|orc|save|saveAsTable|insertInto)\(""".r
    // a Hadoop FileSystem.create; `Object.create(` factories are skipped
    val create = """(\w+|\))\.create\(""".r
    val offenders = Files.list(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "LocalFs.scala")
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        def at(i: Int) = s"$p:${src.take(i).count(_ == '\n') + 1}"
        val writes = writer.findAllMatchIn(src)
          .filterNot(_.matched.contains("LocalFs.writeOptions"))
          .map(m => s"${at(m.start)}: DataFrameWriter without LocalFs.writeOptions")
        // the conf of a direct create is made in the same def
        val creates = create.findAllMatchIn(src)
          .filterNot(_.group(1).head.isUpper)
          .filterNot { m =>
            val body = src.take(m.start)
            body.drop(body.lastIndexOf("def ")).contains("LocalFs.hadoopConf")
          }
          .map(m => s"${at(m.start)}: FileSystem.create without LocalFs.hadoopConf")
        writes ++ creates
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
