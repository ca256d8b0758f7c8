package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.text.Bpe

class BpeSpec extends AnyFunSuite {

  // the classic Sennrich corpus (sans end-of-word marker)
  private val corpus = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("learning picks the max-count pair, ties lexicographic") {
    // hand-derived: es=9 and st=9 tie on count → ("e","s") wins the tie,
    // after which ("es","t") has count 9 and wins round 2
    val m = Bpe.learn(corpus, 2)
    assert(m == Seq(("e", "s"), ("es", "t")))
  }

  test("learning is deterministic and prefix-stable") {
    val m8 = Bpe.learn(corpus, 8)
    assert(Bpe.learn(corpus, 8) == m8)
    assert(Bpe.learn(corpus, 4) == m8.take(4))
    // learning exhausts once every word is one token
    val tiny = Bpe.learn(Seq(("ab", 1L)), 10)
    assert(tiny == Seq(("a", "b")))
  }

  test("application: greedy single pass per merge") {
    assert(Bpe.applyMerges(Seq(("e", "s"), ("es", "t")), "newest") ==
      Vector("n", "e", "w", "est"))
    // one pass = non-overlapping: aaa with (a,a) → [aa, a]
    assert(Bpe.mergeOnce(Vector("a", "a", "a"), "a", "a") == Vector("aa", "a"))
    assert(Bpe.applyMerges(Seq(("a", "a")), "aaaa") == Vector("aa", "aa"))
    assert(Bpe.applyMerges(Nil, "hi") == Vector("h", "i"))
  }

  /** The literal-replace simulation q77 runs in Spark/DuckDB:
    * `(c)(h)(a)(r)` encoding, one `replace("(a)(b)" → "(ab)")` per merge.
    */
  private def replaceChain(merges: Seq[(String, String)], word: String): String =
    merges.foldLeft(Bpe.encode(word.map(_.toString))) {
      case (e, (a, b)) => e.replace(s"($a)($b)", s"($a$b)")
    }

  test("paren-encoded literal replace ≡ applyMerges (the q77 relational form)") {
    val merges = Bpe.DefaultMerges
    val vocab = ("data query small row slow stream filter sort hash batch big group " +
      "order column part table join merge window agg spark line key value vector " +
      "fast customer scan the a lower newest aaaa").split(" ")
    vocab.foreach { w =>
      assert(replaceChain(merges, w) == Bpe.encode(Bpe.applyMerges(merges, w)),
        s"divergence on '$w'")
    }
    // spot-check the learned subwords do their job
    assert(Bpe.applyMerges(merges, "join") == Vector("join"))
    assert(Bpe.applyMerges(merges, "batch") == Vector("batch"))
    assert(Bpe.applyMerges(merges, "hash") == Vector("hash"))
  }

  test("DefaultMerges is a valid learned table: every token buildable from prior merges") {
    val known = scala.collection.mutable.Set.empty[String]
    Bpe.DefaultMerges.foreach { case (a, b) =>
      assert(a.length == 1 || known.contains(a), s"left token '$a' not derivable")
      assert(b.length == 1 || known.contains(b), s"right token '$b' not derivable")
      known += (a + b)
    }
  }

  test("DefaultMerges are the 24 merges learned from the sf0.01 documents vocabulary") {
    import org.apache.spark.sql.functions._
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("bpe-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      // word counts are exact aggregates and learning breaks ties
      // lexicographically, so the table is a pure function of the file
      val counts = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(Bpe.learn(counts, 24) == Bpe.DefaultMerges)
    } finally spark.stop()
  }
}
