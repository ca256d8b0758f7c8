package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("dedup-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def components(vertices: Seq[Long], undirected: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val v = vertices.toDF("id")
    val e = (undirected ++ undirected.map(p => (p._2, p._1))).toDF("src", "dst")
    Dedup.connectedComponents(v, e).as[(Long, Long)].collect().toMap
  }

  test("deep chain (diameter 10) converges to one component — a fixed-3-round version gets this wrong") {
    // path graph 0-1-2-...-10: min-label needs ~diameter rounds to reach the
    // far end; 3 hardcoded rounds would leave vertices 4..10 mislabeled
    val vs = (0L to 10L)
    val es = vs.init.map(i => (i, i + 1L))
    val comp = components(vs, es)
    assert(comp.values.toSet == Set(0L), s"chain must collapse to component 0, got $comp")
  }

  test("disjoint cliques and singletons keep separate components") {
    // clique {1,2,3}, pair {10,11}, singleton {20}
    val vs = Seq(1L, 2L, 3L, 10L, 11L, 20L)
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L))
    val comp = components(vs, es)
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("empty edge set: every vertex is its own component") {
    val comp = components(Seq(5L, 6L), Seq.empty)
    assert(comp == Map(5L -> 5L, 6L -> 6L))
  }

  test("multi-band LSH is monotone: adding bands (or thinning rows) only merges more") {
    import spark.implicits._
    // 20 near-dup variants of a 30-token doc (one token perturbed each)
    // plus an exact-dup pair that must merge under EVERY configuration
    val docs = ((0 until 20).map { k =>
      val words = (1 to 30).map(i => if (i == (k % 15) + 1) s"chg$k" else s"tok$i")
      (k.toLong, words.mkString(" "))
    } :+ (100L, (1 to 30).map(i => s"tok$i").mkString(" "))
      :+ (101L, (1 to 30).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    def pairs(b: Int, r: Int): Set[Set[Long]] = {
      val m = Dedup.minhashClusterLabels(docs, "doc_id", "text",
        bands = b, rowsPerBand = r).as[(Long, Long)].collect().toMap
      m.keys.toSeq.combinations(2)
        .filter { case Seq(x, y) => m(x) == m(y) }.map(_.toSet).toSet
    }
    val p12 = pairs(1, 2) // the oracle-pinned default
    val p42 = pairs(4, 2) // band 0 of 4×2 IS the 1×2 config → superset
    val p41 = pairs(4, 1) // 1-row bands: every 4×2 collision implies one here
    assert(p12.subsetOf(p42), "4×2 must preserve every 1×2 merge")
    assert(p42.subsetOf(p41), "4×1 must preserve every 4×2 merge")
    assert(Set(Set(100L, 101L)).subsetOf(p12), "exact dups merge in every config")
  }

  test("canonical key clusters unrelated texts; transitive with content LSH; short docs included") {
    import spark.implicits._
    val docs = Seq(
      // same canonical, totally different long texts → site-declared dups
      (1L, "the quick brown fox jumps over the lazy dog today", Some("https://e.com/x")),
      (2L, "pack my box with five dozen liquor jugs this morning", Some("https://e.com/x")),
      // doc 3 is an exact CONTENT dup of 2 with a different canonical →
      // the chain 1~2 (canonical) + 2~3 (content) must become ONE component
      (3L, "pack my box with five dozen liquor jugs this morning", Some("https://e.com/y")),
      // short (unshingleable) doc still clusters via its canonical
      (4L, "hi", Some("https://e.com/x")),
      // short doc without canonical: unlabeled (trivially unique)
      (5L, "ok", None),
      // unrelated doc, own canonical → singleton
      (6L, "sphinx of black quartz judge my vow quickly right now", Some("https://e.com/z"))
    ).toDF("doc_id", "text", "canonical")
    val labels = Dedup.clusterLabels(docs, "doc_id", "text", Some("canonical"))
      .as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L && labels(4L) == 1L,
      s"canonical+content chain must collapse to component 1, got $labels")
    assert(labels(6L) == 6L)
    assert(!labels.contains(5L), "short doc without any key stays unlabeled")
    // canonicalCol = None reproduces the pure-content clustering
    val plain = Dedup.clusterLabels(docs, "doc_id", "text", None)
      .as[(Long, Long)].collect().toMap
    assert(plain(2L) == plain(3L), "exact content dups merge without canonicals")
    assert(plain(1L) != plain(2L), "unrelated texts stay apart without canonicals")
  }

  test("starEdges emits 2(k-1) edges per bucket, all through the min-id hub") {
    import spark.implicits._
    // bucket a: 4 members; bucket b: 2 members; bucket c: singleton (no edges)
    val keyed = Seq(
      (10L, "a"), (11L, "a"), (12L, "a"), (13L, "a"),
      (20L, "b"), (21L, "b"),
      (30L, "c")).toDF("id", "band")
    val edges = Dedup.starEdges(keyed).as[(Long, Long)].collect().toSet
    // O(k) star, not the O(k²) clique: 2*(4-1) + 2*(2-1) + 0 = 8 edges
    assert(edges.size == 8)
    val aEdges = edges.filter { case (s, d) => s / 10 == 1 || d / 10 == 1 }
    assert(aEdges.forall { case (s, d) => s == 10L || d == 10L },
      "every bucket-a edge must touch the min-id hub 10")
    assert(!edges.exists { case (s, d) => s == 30L || d == 30L })
    // symmetric: both directions present for each undirected edge
    assert(edges.forall { case (s, d) => edges.contains((d, s)) })
  }

  test("labels pinned on the durable branch are row-identical to the local labels") {
    import spark.implicits._
    val cpDir = graft.TestDirs.create("graft-ckpt")
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(cpDir.toString)
    try {
      val vs = (0L to 10L)
      val v = vs.toDF("id")
      val es = vs.init.map(i => (i, i + 1L))
      val e = (es ++ es.map(p => (p._2, p._1))).toDF("src", "dst")
      val labels = Dedup.connectedComponents(v, e)
      val durable = Pin.pin(labels, eager = true, durable = true)
        .as[(Long, Long)].collect().toMap
      val local = labels.as[(Long, Long)].collect().toMap
      assert(durable == local)
      assert(durable.values.toSet == Set(0L))
      assert(java.nio.file.Files.walk(cpDir).anyMatch(java.nio.file.Files.isRegularFile(_)),
        "the durable pin wrote nothing under the checkpoint dir")
    } finally sc.setCheckpointDir(prev.orNull)
  }

  test("two chained band-buckets merge through the shared doc (LSH bridge shape)") {
    // bucket A = {1,2,3}, bucket B = {3,4,5}: doc 3 bridges them
    val vs = Seq(1L, 2L, 3L, 4L, 5L)
    val cliqueA = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val cliqueB = Seq((3L, 4L), (4L, 5L), (3L, 5L))
    val comp = components(vs, cliqueA ++ cliqueB)
    assert(comp.values.toSet == Set(1L))
  }
}
