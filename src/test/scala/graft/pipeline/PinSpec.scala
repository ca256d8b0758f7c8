package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class PinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pin-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A plan with a shuffle and a filter, so a pin has lineage to cut. */
  private def frame: DataFrame = spark.range(0, 1000)
    .withColumn("k", col("id") % 7)
    .groupBy(col("k")).agg(sum(col("id")).as("s"))
    .filter(col("k") =!= 3)

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** Job ids started by `f`, observed through a fresh job group. */
  private def jobsOf(f: => Unit): Seq[Int] = {
    val group = s"pin-spec-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  private def filesUnder(dir: Path): Int =
    Files.walk(dir).iterator().asScala.count(Files.isRegularFile(_))

  private def withCheckpointDir[A](dir: Option[String])(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(dir.orNull)
    try f finally sc.setCheckpointDir(prev.orNull)
  }

  test("an eager local pin truncates lineage: the plan's only leaf is the checkpoint scan") {
    assert(spark.sparkContext.isLocal)
    val pinned = Pin(frame)
    val plan = pinned.queryExecution.analyzed
    assert(plan.isInstanceOf[LogicalRDD], s"expected the checkpoint scan, got:\n$plan")
    assert(rows(pinned) == rows(frame))
  }

  test("a lazy local pin runs no job until an action reads it") {
    // no exchange: under AQE, planning a shuffle already runs its map stage
    val src = spark.range(0, 1000).toDF().filter(col("id") % 7 =!= 3)
    var pinned: DataFrame = null
    assert(jobsOf { pinned = Pin(src, eager = false) }.isEmpty)
    assert(jobsOf { assert(pinned.count() == 857L) }.nonEmpty)
    // the eager pin, by contrast, materializes at the call
    assert(jobsOf { Pin(src) }.nonEmpty)
  }

  test("the durable branch writes under the checkpoint dir and returns the same rows") {
    val dir = graft.TestDirs.create("graft-pin")
    withCheckpointDir(Some(dir.toString)) {
      val before = filesUnder(dir)
      // eager = false still lands eagerly: the durable pin must be written
      // before the lineage is dropped
      val pinned = Pin.pin(frame, eager = false, durable = true)
      assert(filesUnder(dir) > before, "durable pin wrote nothing under the checkpoint dir")
      assert(rows(pinned) == rows(frame))
    }
  }

  test("the durable branch without a checkpoint dir fails and names setCheckpointDir") {
    withCheckpointDir(None) {
      val e = intercept[IllegalArgumentException] {
        Pin.pin(frame, eager = true, durable = true)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
  }

  test("no lineage-truncating checkpoint outside Pin.scala") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val raw = "localCheckpoint\\(|\\.checkpoint\\(".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Pin.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if raw.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"route these through graft.pipeline.Pin:\n${offenders.mkString("\n")}")
  }
}
