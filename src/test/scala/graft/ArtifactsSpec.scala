package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

class ArtifactsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("artifacts-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A build that counts its runs and leaves one file behind. */
  private def counting(runs: Array[Int])(dir: String): Unit = {
    runs(0) += 1
    Files.writeString(Paths.get(dir, "part-0"), s"run ${runs(0)}")
  }

  test("a second request in the same session reuses the built directory") {
    val runs = Array(0)
    val a = Artifacts.dir(spark, "sf-same", "t")(counting(runs))
    val b = Artifacts.dir(spark, "sf-same", "t")(counting(runs))
    assert(runs(0) == 1)
    assert(a == b)
    assert(Files.readString(Paths.get(a, "part-0")) == "run 1")
    // another sfDir or another name is another artifact
    Artifacts.dir(spark, "sf-other", "t")(counting(runs))
    Artifacts.dir(spark, "sf-same", "u")(counting(runs))
    assert(runs(0) == 3)
  }

  test("newSession() builds again") {
    val runs = Array(0)
    Artifacts.dir(spark, "sf-sessions", "t")(counting(runs))
    val s2 = spark.newSession()
    Artifacts.dir(s2, "sf-sessions", "t")(counting(runs))
    assert(runs(0) == 2)
    // each session then keeps its own build
    Artifacts.dir(spark, "sf-sessions", "t")(counting(runs))
    Artifacts.dir(s2, "sf-sessions", "t")(counting(runs))
    assert(runs(0) == 2)
  }

  test("two sessions never share a directory") {
    val runs = Array(0)
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val a = Artifacts.dir(s1, "sf-disjoint", "t")(counting(runs))
    val b = Artifacts.dir(s2, "sf-disjoint", "t")(counting(runs))
    assert(a != b)
    assert(Paths.get(a).getParent != Paths.get(b).getParent)
    assert(Files.readString(Paths.get(a, "part-0")) == "run 1")
    assert(Files.readString(Paths.get(b, "part-0")) == "run 2")
  }

  test("a build that throws leaves no marker; the next request rebuilds into an empty directory") {
    val failed = intercept[IllegalStateException] {
      Artifacts.dir(spark, "sf-fail", "t") { dir =>
        Files.writeString(Paths.get(dir, "half-written"), "x")
        throw new IllegalStateException("killed mid-build")
      }
    }
    assert(failed.getMessage == "killed mid-build")
    val runs = Array(0)
    var seen = Seq.empty[String]
    val d = Artifacts.dir(spark, "sf-fail", "t") { dir =>
      seen = Files.list(Paths.get(dir)).toArray.toSeq.map(_.toString)
      counting(runs)(dir)
    }
    assert(runs(0) == 1)
    assert(seen.isEmpty, s"rebuild must start empty, found ${seen.mkString(",")}")
    assert(!Files.exists(Paths.get(d, "half-written")))
    Artifacts.dir(spark, "sf-fail", "t")(counting(runs))
    assert(runs(0) == 1)
  }

  test("a build may request another artifact (the CDX index over the WARC segments)") {
    val runs = Array(0)
    def segments = Artifacts.dir(spark, "sf-nested", "warc")(counting(runs))
    val idx = Artifacts.dir(spark, "sf-nested", "cdx") { dir =>
      val src = segments
      Files.writeString(Paths.get(dir, "index"), Files.readString(Paths.get(src, "part-0")))
    }
    assert(Files.readString(Paths.get(idx, "index")) == "run 1")
    assert(segments != idx)
    assert(runs(0) == 1)
  }
}
