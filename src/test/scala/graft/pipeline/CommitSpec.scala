package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class CommitSpec extends AnyFunSuite {

  test("manifest field reads: numbers, strings, arrays, exact keys, cut-off lines") {
    val line = """{"run_id":"r","snapshot_id":"snap-r-000","buckets":[3,7],"lineage":[{"partition_id":3,"input_rows":5}]}"""
    assert(Commit.field(line, "snapshot_id").contains("snap-r-000"))
    assert(Commit.longsField(line, "buckets") == Seq(3L, 7L))
    assert(Commit.longsField("""{"buckets":[]}""", "buckets").isEmpty)
    assert(Commit.longField("""{"increment":2,"labels_version":9}""", "labels_version").contains(9L))
    assert(Commit.longField("""{"labels_version":9}""", "version").isEmpty)
    assert(Commit.longField("""{"version":4,"incs":[0,1]}""", "version").contains(4L))
    // a torn last line yields nothing rather than a wrong value
    assert(Commit.longsField("""{"run_id":"r","buckets":[3,7""", "buckets").isEmpty)
    assert(Commit.longField("""{"batch_id":1""", "batch_id").isEmpty)
    assert(Commit.field("""{"snapshot_id":"snap-""", "snapshot_id").isEmpty)
  }

  test("appendLine creates the manifest and appends one line per call") {
    val mf = Commit.manifest(graft.TestDirs.create("graft-commit").toString, "m.jsonl")
    assert(Commit.lines(mf).isEmpty)
    Commit.appendLine(mf, """{"batch_id":1}""")
    Commit.appendLine(mf, """{"batch_id":2}""")
    assert(Commit.lines(mf).flatMap(Commit.longField(_, "batch_id")) == Seq(1L, 2L))
  }

  test("rewrite replaces a manifest's content and leaves no temp file") {
    val mf = Commit.manifest(graft.TestDirs.create("graft-commit").toString, "m.jsonl")
    Commit.appendLine(mf, """{"batch_id":1}""")
    Commit.appendLine(mf, """{"batch_id":2}""")
    Commit.rewrite(mf, Seq("""{"batch_id":3}""", """{"batch_id":4}"""))
    assert(Commit.lines(mf).flatMap(Commit.longField(_, "batch_id")) == Seq(3L, 4L))
    assert(Files.list(mf.getParent).iterator().asScala.map(_.getFileName.toString).toSeq ==
      Seq("m.jsonl"))
  }

  test("source guard: manifest rewrites and the versioned fold live only in Commit.scala") {
    val root = Paths.get("src/main/scala/graft/pipeline")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val owned = "ATOMIC_MOVE|compact_manifest".r
    val offenders = Files.list(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Commit.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if owned.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"route these through Commit.rewrite / Commit.fold:\n${offenders.mkString("\n")}")
  }

  test("source guard: CuratedPipeline writes through Commit.write and keeps one label history") {
    val src = Paths.get("src/main/scala/graft/pipeline/CuratedPipeline.scala")
    assert(Files.exists(src), s"run from the project root (no $src)")
    // a writer of its own (SaveMode, `.write.`) or the retired label
    // versions / demoted table
    val banned = """SaveMode|\.write\b(?!\()|labels/v|index/demoted|demotedDir""".r
    val offenders = Files.readAllLines(src).asScala.zipWithIndex.collect {
      case (line, i) if banned.findFirstIn(line).isDefined => s"$src:${i + 1}: ${line.trim}"
    }
    assert(offenders.isEmpty,
      s"write through Commit.write into the increment=<k> index tables:\n${offenders.mkString("\n")}")
  }
}
