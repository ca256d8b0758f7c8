package graft.core.text

/** Byte-pair encoding, the real thing (round-3 verdict #4): LEARN a merge
  * table from a word-frequency table, then APPLY it — q47 stopped at the
  * GPT-2-style pre-tokenizer; this closes the gap so training-mix token
  * accounting (q73's consumer) uses genuine subword counts.
  *
  * Semantics (deterministic, engine-mirrorable):
  *   - learning (Sennrich et al. 2016 shape): start from single characters,
  *     repeatedly take the adjacent pair with the highest weighted count —
  *     ties break LEXICOGRAPHICALLY on the pair — and merge it everywhere
  *     with one left-to-right non-overlapping pass per word;
  *   - application: fold the merges in learned order, each one a single
  *     left-to-right non-overlapping pass.
  *
  * The single-pass-per-merge rule matters because it is exactly what a
  * literal string replace does: encode a word as `(c)(h)(a)(r)(s)` and
  * merge (a,b) is `replace(enc, "(a)(b)", "(ab)")` — every token owns its
  * own delimiters, so adjacent matches never share a boundary character
  * and Spark's `replace`, DuckDB's `replace`, and this object execute the
  * identical greedy scan. q77 runs that replace chain in BOTH engines with
  * [[DefaultMerges]] inlined; BpeSpec pins learning itself.
  */
object Bpe {

  /** Learn `nMerges` merges from (word, count) pairs. */
  def learn(wordCounts: Seq[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    var words: Seq[(Vector[String], Long)] =
      wordCounts.filter(_._1.nonEmpty).map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = Vector.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (toks, c) =>
        var j = 0
        while (j + 1 < toks.length) {
          val p = (toks(j), toks(j + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
          j += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        // max count, ties lexicographic on (left, right)
        val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.map { case (toks, c) => (mergeOnce(toks, best._1, best._2), c) }
        i += 1
      }
    }
    merges.result()
  }

  /** One left-to-right non-overlapping merge pass (= one literal replace). */
  def mergeOnce(toks: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var j = 0
    while (j < toks.length) {
      if (j + 1 < toks.length && toks(j) == a && toks(j + 1) == b) {
        out += (a + b); j += 2
      } else { out += toks(j); j += 1 }
    }
    out.result()
  }

  /** Tokenize a word with a learned merge table. */
  def applyMerges(merges: Seq[(String, String)], word: String): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector) {
      case (toks, (a, b)) => mergeOnce(toks, a, b)
    }

  /** The paren encoding the relational application uses: `(c)(h)(a)…`. */
  def encode(toks: Seq[String]): String = toks.map(t => s"($t)").mkString

  /** The pinned fixture merge table q77 inlines into BOTH dialects: the
    * first 24 merges learned by [[learn]] from the deterministic
    * `documents` vocabulary at sf0.01 (word counts over
    * `/root/testdata/sf0.01/documents.parquet`; `BpeSpec` relearns and
    * checks it).
    */
  val DefaultMerges: Seq[(String, String)] = Seq(
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("j", "o"),
    ("jo", "in"),
    ("a", "s"),
    ("as", "h"),
    ("h", "ash"),
    ("r", "ow"),
    ("at", "c"),
    ("atc", "h"),
    ("b", "atch"),
    ("a", "n"),
    ("c", "an"),
    ("s", "can"),
    ("c", "o"),
    ("c", "u")
  )
}
