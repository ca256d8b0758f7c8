package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster canonicalization primitives: the step that turns
  * pairwise dedup signals (LSH band collisions) into keep/drop decisions
  * (reference analog: the per-file dedup decision in
  * /root/reference/app.py result handling; at corpus scale this is
  * connected components over the candidate-pair graph).
  */
object Dedup {

  /** Near-dup cluster labels for a text corpus: MinHash over 3-gram word
    * SHINGLES → `bands` LSH bands of `rowsPerBand` hash mins each → STAR
    * edges (every doc → its band bucket's min id: same components as the
    * full clique with O(k) edges per bucket instead of O(k²), so a hot
    * boilerplate bucket can't explode edge generation at corpus scale) →
    * connected components.
    *
    * Band/row trade (the standard LSH S-curve): two docs collide if ANY
    * band's `rowsPerBand` mins all agree, so more bands (or fewer rows per
    * band) raises recall and loosens precision. The default (1 band × 2
    * rows) is the analysis queries' oracle-pinned configuration; a recall-
    * oriented production dedup would run e.g. 4×2 — the clustering stays
    * MONOTONE in bands (every default-config merge survives, property-
    * tested in DedupSpec). All bands ride ONE scan: the signature projects
    * every band key in a single pass, then a `stack` generator unpivots
    * them (the q32 single-scan shape).
    *
    * Shingles, not unigrams: with a small shared vocabulary unigram minhash
    * collides nearly all docs into one band (a 42M-edge clique at sf0.1);
    * 3-gram shingles keep buckets tight. Docs with fewer than 3 words have
    * no shingle signature and are NOT labeled — callers treat them as
    * trivially-unique singletons (CuratedPipeline keeps them).
    *
    * This is the single clustering implementation shared by the q44/q46
    * analysis queries and the curated-corpus pipeline, so the keep/drop
    * decision the pipeline materializes is pinned by the same recursive-CTE
    * oracle that checks the analysis queries.
    *
    * @return (id, comp) for every doc with ≥3 words; comp = min reachable id
    */
  def minhashClusterLabels(corpus: DataFrame, idCol: String, textCol: String,
      bands: Int = 1, rowsPerBand: Int = 2): DataFrame =
    clusterLabels(corpus, idCol, textCol, canonicalCol = None,
      bands = bands, rowsPerBand = rowsPerBand)

  /** [[minhashClusterLabels]] plus an optional CANONICAL key: real web
    * dedup stacks collapse pages sharing a `<link rel=canonical>` target
    * BEFORE any content hashing — the site itself declared them duplicates.
    * A canonical URL is just one more LSH band (its key space is prefixed
    * so it can never collide with an md5 band key), so canonical groups,
    * content near-dups, and their transitive combinations all resolve in
    * the SAME connected-components pass. Docs too short to shingle still
    * cluster by canonical when they carry one.
    */
  def clusterLabels(corpus: DataFrame, idCol: String, textCol: String,
      canonicalCol: Option[String],
      bands: Int = 1, rowsPerBand: Int = 2): DataFrame = {
    // minhash computed once: the key table is pinned eagerly — it fans out
    // into hubs, the star join, and the vertex list, and is the expensive
    // subtree. r6: the edge table is pinned LAZILY — it materializes
    // inside the components loop's first action instead of paying a
    // separate eager job
    val keyedC = Pin(bandKeys(corpus, idCol, textCol, canonicalCol, bands, rowsPerBand))
    val edges = Pin(starEdges(keyedC), eager = false)
    connectedComponents(keyedC.select(col("id")).distinct(), edges)
  }

  /** The (id, band) key table feeding the components pass: one key per
    * content LSH band (MinHash over 3-gram shingles) plus, when
    * `canonicalCol` is set, one key per site-declared canonical target —
    * prefixed so it can never collide with an md5 band key. One corpus
    * scan per key kind; the signature is computed exactly once.
    */
  def bandKeys(corpus: DataFrame, idCol: String, textCol: String,
      canonicalCol: Option[String],
      bands: Int = 1, rowsPerBand: Int = 2): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1, s"need ≥1 band of ≥1 rows, got $bands×$rowsPerBand")
    val d = corpus
      .withColumn("wrd", split(col(textCol), " "))
      .filter(size(col("wrd")) >= 3)
      .withColumn("w", array_distinct(expr(
        "transform(sequence(0, size(wrd)-3), i -> concat_ws(' ', element_at(wrd,i+1), element_at(wrd,i+2), element_at(wrd,i+3)))")))
    def minExpr(seed: Int) =
      expr(s"array_min(transform(w, x -> cast(conv(substr(md5(concat(x, '#$seed')), 1, 8), 16, 10) AS BIGINT)))")
        .cast("string")
    val bandCols = (0 until bands).map { b =>
      val mins = (0 until rowsPerBand).map(r => minExpr(b * rowsPerBand + r))
      // the band index is part of the key so band 0's bucket space never
      // collides with band 1's
      md5(concat_ws("_", (lit(b.toString) +: mins): _*)).as(s"band$b")
    }
    val sig = d.select(col(idCol).as("id") +: bandCols: _*)
    val contentKeys =
      if (bands == 1) sig.select(col("id"), col("band0").as("band"))
      else sig.select(col("id"), expr(
        s"stack($bands, ${(0 until bands).map(b => s"band$b").mkString(",")})").as("band"))
    canonicalCol match {
      case None => contentKeys
      case Some(c) => contentKeys.unionByName(
        corpus.filter(col(c).isNotNull && trim(col(c)) =!= "")
          .select(col(idCol).as("id"), concat(lit("canon:"), trim(col(c))).as("band")))
    }
  }

  /** Symmetric star edges over a (id, band) key table: every id links to
    * its bucket's min-id hub — O(k) edges per bucket instead of the O(k²)
    * clique, with identical reachability.
    *
    * The output may hold DUPLICATE (src, dst) rows: a pair that shares its
    * hub through two bands (or a content band and a canonical key) emits
    * the edge once per shared bucket. That is safe for every consumer —
    * [[connectedComponents]] takes a min over the joined labels, and min
    * is idempotent, so a repeated edge never changes a label — and it
    * saves the full edge-table shuffle a `distinct()` would cost. The
    * duplicate fraction is bounded by docs agreeing on more than one key,
    * which the LSH S-curve keeps tiny. Callers that count edges must
    * dedupe themselves.
    */
  def starEdges(keyed: DataFrame): DataFrame = {
    val hubs = keyed.groupBy(col("band")).agg(min(col("id")).as("hub"))
    val star = keyed.join(hubs, Seq("band"))
      .filter(col("id") =!= col("hub"))
      .select(col("id").as("src"), col("hub").as("dst"))
    star.unionByName(star.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Connected components over an edge list via iterative min-label
    * propagation, run to a FIXPOINT rather than a fixed round count — a
    * hardcoded iteration budget silently under-converges once duplicate
    * chains exceed the assumed graph diameter.
    *
    * Convergence test: each round min-label propagation is monotone
    * non-increasing per vertex, so the checksum `sum(comp)` strictly
    * decreases until the fixpoint — one cheap aggregate per round instead
    * of a self-join change count. The sum is taken in decimal(38,0), NOT
    * long: the API is generic over long ids (e.g. xxhash64 vertex ids),
    * and a wrapping 64-bit sum could in principle alias a non-converged
    * round; decimal(38,0) holds the exact sum of 10^19 full-range longs.
    * Rounds = O(graph diameter); `maxIters` is a runaway guard only
    * (throws rather than returning a wrong answer).
    *
    * @param vertices one column `id` (long)
    * @param edges    columns `src`, `dst`; must contain both directions of
    *                 each undirected edge (a symmetric band self-join does)
    * Each round's lineage is truncated through [[Pin]], so on a cluster the
    * per-round labels land in the checkpoint dir and survive executor loss.
    *
    * @return (id, comp) with comp = min reachable id
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 60): DataFrame = {
    // r6: per-round pins are LAZY — the round's checksum aggregate is the
    // action that materializes them, so each round costs ONE job instead
    // of an eager-materialize job plus a checksum job
    // initial labels are a 2-op projection over the caller's (usually
    // already-pinned) vertex table — no checkpoint needed before round 1
    var labels = vertices.select(col("id"), col("id").as("comp"))
    def checksum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("comp").cast("decimal(38,0)"))).head().get(0)
      if (v == null) java.math.BigDecimal.ZERO
      else v.asInstanceOf[java.math.BigDecimal]
    }
    // r6: no initial-checksum job — convergence is detected as two
    // CONSECUTIVE equal block checksums (the sum is monotone
    // non-increasing, so equality across a block still implies the
    // fixpoint); the first block always runs, as it must.
    var prev: java.math.BigDecimal = null
    var iter = 0
    var done = false
    // r6: convergence is checked every TWO propagation rounds — both
    // rounds' lazy pins materialize inside the single checksum job, so
    // the loop pays half the job boundaries. Monotonicity is unchanged
    // (the checksum still strictly decreases until the fixpoint); at most
    // one already-converged round of extra propagation runs, which is a
    // data no-op.
    // POINTER JUMP first: comp' = comp(comp), reading the previous
    // round's pinned labels twice (cache hits, no recompute). Labels are
    // always vertex ids, so the self-join resolves every row; the left
    // join + coalesce keeps a missing target (impossible by construction)
    // at its own label rather than dropping the row. Jump + hop per round
    // turns O(diameter) rounds into O(log diameter) — same monotone
    // non-increasing labels, same min-reachable-id fixpoint, so the
    // result is identical row-for-row.
    def round(in: DataFrame): DataFrame = {
      val l2 = in.select(col("id").as("jid"), col("comp").as("jcomp"))
      // pinned (lazily): the hop reads `jumped` on both its join and
      // union branches — one computation, shared blocks. (A second jump
      // per round was measured round-neutral — labels are already
      // compressed against the information available.)
      val jumped = Pin(in.join(l2, in("comp") === l2("jid"), "left")
        .select(in("id"), coalesce(col("jcomp"), in("comp")).as("comp")), eager = false)
      // checkpoint per round: an iterative DataFrame loop must truncate
      // lineage or round k re-executes rounds 1..k-1
      Pin(edges.join(jumped, edges("src") === jumped("id"))
        .select(col("dst").as("id"), col("comp"))
        .unionByName(jumped)
        .groupBy(col("id")).agg(min(col("comp")).as("comp")), eager = false)
    }
    while (!done && iter < maxIters) {
      labels = round(round(labels))
      val s = checksum(labels)
      done = prev != null && s.compareTo(prev) == 0
      prev = s
      iter += 2
    }
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds")
    labels
  }
}
