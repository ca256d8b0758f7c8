package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

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
    val mf = Commit.manifest(Files.createTempDirectory("graft-commit").toString, "m.jsonl")
    assert(Commit.lines(mf).isEmpty)
    Commit.appendLine(mf, """{"batch_id":1}""")
    Commit.appendLine(mf, """{"batch_id":2}""")
    assert(Commit.lines(mf).flatMap(Commit.longField(_, "batch_id")) == Seq(1L, 2L))
  }
}
