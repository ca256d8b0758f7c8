package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.Paths

/** Inverted-index retrieval over the corpus — the lexical complement of
  * the embedding ANN path (q34/q35/q48): build term postings once, then
  * answer keyword queries with BM25-shaped ranking. This is the shape a
  * corpus-quality team actually queries a 100 TB crawl with ("show me the
  * top pages for <term set>") without ever scanning raw text per query.
  *
  * Scoring is BM25 with k1=1.2, b=0.75 in INTEGER arithmetic (ppk/ppm
  * fixed-point) so an independent engine reproduces every score bit-for-
  * bit: the idf term is the BM25 idf ARGUMENT `(N-df+0.5)/(df+0.5)` kept
  * linear instead of logged (a monotone per-term transform — documented
  * surrogate, not an approximation error), and the tf saturation is the
  * standard `tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))` in parts-per-thousand.
  *
  * Scale shape: the postings build is one explode + content-keyed hash
  * aggregate (the q30/q79 shuffle shape). A query batch broadcasts its
  * terms; only matching postings leave the scan, document lengths join on
  * the doc key (one shuffle proportional to candidates), and top-k is
  * TWO-PHASE: a partial top-k inside 64 hash shards of each query's
  * candidates (parallel, bounded) feeds the global top-k, so no single
  * task ever sorts a popular term's full candidate set — and the result
  * is provably identical to the single-phase window (any global top-k row
  * is in its shard's top-k).
  */
object InvertedIndex {

  /** Postings: one row per (term, doc) with the term frequency. Terms are
    * the non-empty space-separated tokens (the corpus tokenization used
    * by q38/q79).
    */
  def postings(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("tf"))

  /** Positional token stream: one row per token occurrence — (`doc_id`,
    * `pos`, `term`) with `pos` the 1-based index in the space-split token
    * array. The phrase-query complement of [[postings]]: bag-of-words tf
    * can't see adjacency; consecutive positions can. Empty tokens (double
    * spaces) are dropped but their slots keep numbering, so positions are
    * a pure function of the raw text that any engine reproduces.
    */
  def tokensPositional(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("off", "term")))
      .filter(length(col("term")) > 0)
      .withColumn("pos", (col("off") + 1).cast("long"))
      .drop("off")

  /** Top-k docs per PHRASE query — exact consecutive-token match, the
    * retrieval mode bag-of-words BM25 structurally cannot answer ("batch
    * batch" is not "two batch tokens anywhere"). `phrases` carries
    * (`qid`, `off`, `term`) rows with `off` the 0-based offset inside the
    * phrase; a phrase occurs at anchor position p iff token(p+off) ==
    * term for EVERY offset. Score = occurrence count (overlapping
    * occurrences count — both the standard convention and the relational
    * one). Repeated terms inside one phrase are handled by counting
    * DISTINCT offsets per anchor.
    *
    * Scale shape: the phrase table broadcasts into ONE positional-token
    * scan — only tokens matching SOME phrase term survive the join — then
    * two content-keyed hash aggregations ((qid, doc, anchor) offset
    * completion; (qid, doc) occurrence count) and the sharded two-phase
    * top-k. The corpus is scanned once, no self-join of the token stream,
    * no window over it.
    */
  def phraseTopK(tokens: DataFrame, phrases: DataFrame, k: Int): DataFrame = {
    val ph = phrases.select(col("qid").cast("long").as("qid"),
      col("off").cast("long").as("off"), col("term"))
    val plen = ph.groupBy(col("qid")).agg(count(lit(1)).cast("long").as("plen"))
    val hits = tokens.join(broadcast(ph), Seq("term"))
      .select(col("qid"), col("doc_id"),
        (col("pos") - lit(1L) - col("off")).as("anchor"), col("off"))
    val occ = hits
      .groupBy(col("qid"), col("doc_id"), col("anchor"))
      .agg(countDistinct(col("off")).as("nmatch"))
      .join(broadcast(plen), Seq("qid"))
      .filter(col("nmatch") === col("plen"))
    val scored = occ.groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("score"))
    rankTopK(scored, k)
  }

  // ---- committed index: LSM generations, manifest-gated reads -------------
  //
  // The postings table persisted the way this engine persists every other
  // index (CdxIndex generations, CuratedPipeline band index): each `build`/
  // `append` writes a NEW sorted-by-term parquet generation under
  // `idxDir/g<N>/` and then appends one manifest line — the commit point —
  // so readers never see a torn write, an `append` after new docs is
  // O(new data) with nothing rewritten, and `compactGenerations` folds the
  // LSM back to one generation with an atomic manifest REWRITE (tmp+move).
  // Contract (the curateIncrement identity discipline): appended docs are
  // disjoint from everything already indexed — (term, doc) stays unique
  // across generations, which is what lets `read` be a plain union.

  private def manifest(idxDir: String) = Paths.get(idxDir, "index_manifest.jsonl")

  /** One committed generation's manifest entry: postings live under
    * `g<gen>/`, per-doc lengths under `l<gen>/`, and the corpus stats a
    * BM25 search needs (`nDocs`, `totalDl`) are IN the manifest — a
    * search never scans the index to learn them.
    */
  final case class IndexGen(gen: Long, nDocs: Long, totalDl: Long)

  /** Committed generation metadata, in commit order. */
  def committedMeta(idxDir: String): Seq[IndexGen] =
    Commit.lines(manifest(idxDir)).flatMap { line =>
      for (g <- Commit.longField(line, "gen"); n <- Commit.longField(line, "n_docs");
           dl <- Commit.longField(line, "total_dl"))
        yield IndexGen(g, n, dl)
    }.distinctBy(_.gen)

  /** Committed generation numbers, in commit order. */
  def committedGens(idxDir: String): Seq[Long] = committedMeta(idxDir).map(_.gen)

  /** Index `docs` into a new generation and commit it. First call creates
    * the index; later calls are the O(new-data) incremental append. Each
    * generation persists its postings (term-sorted), its per-doc length
    * table, and its (n_docs, total_dl) stats in the manifest line — the
    * search-time inputs a real engine stores at INDEX time, because
    * recomputing lengths per query would scan the whole index
    * ([[searchTopKIndexed]] reads them instead). Stats are additive
    * across generations exactly because appended docs are disjoint (the
    * documented contract).
    */
  def append(spark: SparkSession, docs: DataFrame, idxDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    val gens = committedGens(idxDir)
    val g = if (gens.isEmpty) 0L else gens.max + 1
    val p = postings(docs, idCol, textCol)
    // sorted by term within files: postings for one term cluster together,
    // so a term-keyed read touches few row groups (min/max pruning)
    p.sortWithinPartitions(col("term"))
      .write.mode("overwrite").options(LocalFs.writeOptions).parquet(s"$idxDir/g$g")
    spark.read.parquet(s"$idxDir/g$g")
      .groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl"))
      .write.mode("overwrite").options(LocalFs.writeOptions).parquet(s"$idxDir/l$g")
    val st = spark.read.parquet(s"$idxDir/l$g")
      .agg(count(lit(1)).cast("long"), sum(col("dl")).cast("long")).head()
    val (nDocs, totalDl) = (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
    Commit.appendLine(manifest(idxDir), s"""{"gen":$g,"n_docs":$nDocs,"total_dl":$totalDl}""")
    g
  }

  /** Postings across every COMMITTED generation (a torn append's orphan
    * directory is invisible until its manifest line lands).
    */
  def read(spark: SparkSession, idxDir: String): DataFrame = {
    val gens = committedGens(idxDir)
    require(gens.nonEmpty, s"no committed index at $idxDir")
    gens.map(g => spark.read.parquet(s"$idxDir/g$g")).reduce(_.unionByName(_))
  }

  /** Per-doc length table across committed generations — valid as a plain
    * union because appended docs are disjoint.
    */
  def readLens(spark: SparkSession, idxDir: String): DataFrame = {
    val gens = committedGens(idxDir)
    require(gens.nonEmpty, s"no committed index at $idxDir")
    gens.map(g => spark.read.parquet(s"$idxDir/l$g")).reduce(_.unionByName(_))
  }

  /** Corpus stats straight from the manifest — no index scan at all. */
  def readStats(spark: SparkSession, idxDir: String): DataFrame = {
    val meta = committedMeta(idxDir)
    require(meta.nonEmpty, s"no committed index at $idxDir")
    spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(meta.map(_.nDocs).sum, meta.map(_.totalDl).sum)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("total_dl",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Search the COMMITTED index: postings term-pruned from the sorted
    * parquet generations, per-doc lengths read from the stored `l<g>`
    * tables, corpus stats from the manifest — no query ever re-aggregates
    * the index to recover what append time already knew. This is the
    * index-backed twin of [[searchTopK]], value-identical by the
    * disjoint-append contract.
    */
  def searchTopKIndexed(spark: SparkSession, idxDir: String,
      queries: DataFrame, k: Int): DataFrame =
    rankTopK(scoresWith(read(spark, idxDir), readLens(spark, idxDir),
      readStats(spark, idxDir), queries), k)

  /** Fold all committed generations into one. The fold is written as a new
    * generation first; the manifest REWRITE (tmp + atomic move) is the
    * commit point, and a reader holds either the old generation list or
    * the folded one — never a mix. Superseded directories are removed
    * AFTER the commit (crash between commit and cleanup leaks orphan dirs,
    * never wrong reads; [[vacuum]] finishes the job on replay).
    */
  def compactGenerations(spark: SparkSession, idxDir: String): Unit = {
    val meta = committedMeta(idxDir)
    if (meta.length <= 1) return
    val g = meta.map(_.gen).max + 1
    read(spark, idxDir).sortWithinPartitions(col("term"))
      .write.mode("overwrite").options(LocalFs.writeOptions).parquet(s"$idxDir/g$g")
    readLens(spark, idxDir)
      .write.mode("overwrite").options(LocalFs.writeOptions).parquet(s"$idxDir/l$g")
    // stats are additive under the disjoint-append contract — the fold's
    // manifest line is pure arithmetic, no recount
    val (nDocs, totalDl) = (meta.map(_.nDocs).sum, meta.map(_.totalDl).sum)
    Commit.rewrite(manifest(idxDir), Seq(s"""{"gen":$g,"n_docs":$nDocs,"total_dl":$totalDl}"""))
    vacuum(spark, idxDir)
  }

  /** Remove generation/length directories the manifest no longer
    * references (superseded by compaction, or orphaned by a torn append).
    */
  def vacuum(spark: SparkSession, idxDir: String): Unit = {
    val gens = committedGens(idxDir)
    val live = gens.map(g => s"g$g").toSet ++ gens.map(g => s"l$g").toSet
    Option(new java.io.File(idxDir).list()).toSeq.flatten
      .filter(name => name.matches("[gl]\\d+") && !live.contains(name))
      .foreach(name => Commit.delete(spark, s"$idxDir/$name"))
  }

  /** Top-k docs per query. `queries` carries (`qid`, `term`) rows — a
    * query is its term set, weights uniform. Returns (`qid`, `doc_id`,
    * `score`, `rank`) with `rank` 1-based, ties broken by `doc_id` so the
    * result is total-ordered and engine-reproducible.
    */
  def searchTopK(posts: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(scores(posts, queries), k)

  /** [[searchTopK]] straight from a docs frame: the postings subtree is
    * term-pruned by the query vocabulary, and the doc-length/stats tables
    * come from [[docLens]]'s scalar projection instead of re-aggregating
    * the postings — one corpus explode pass instead of four.
    */
  def searchTopKFromDocs(docs: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lens = docLens(docs, idCol, textCol)
    rankTopK(scoresWith(postings(docs, idCol, textCol), lens, statsOf(lens),
      queries), k)
  }

  /** Per-doc token-count table computed SCALAR-WISE from the docs frame —
    * value-identical to aggregating [[postings]] by doc (dl = count of
    * non-empty space-split tokens; zero-token docs absent in both) but
    * with no explode and no shuffle (guide §2.3/§2.4: don't re-aggregate
    * the corpus-sized postings subtree to recover what one projection of
    * the source row already knows).
    */
  def docLens(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        size(expr(s"filter(split($textCol, ' '), x -> length(x) > 0)"))
          .cast("long").as("dl"))
      .filter(col("dl") > 0L)

  /** (n_docs, total_dl) corpus stats over a length table. */
  def statsOf(lens: DataFrame): DataFrame =
    lens.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).cast("long").as("total_dl"))

  /** Un-ranked BM25 scores per (qid, doc_id) — the scoring half of
    * [[searchTopK]], exposed so fielded search can COMBINE per-field
    * scores before ranking (ranking per field first and merging top-k
    * lists would be wrong: a doc can make the combined top-k from two
    * mid-list field scores).
    */
  def scores(posts: DataFrame, queries: DataFrame): DataFrame = {
    val lens = posts.groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("dl"))
    scoresWith(posts, lens, statsOf(lens), queries)
  }

  /** [[scores]] with the doc-length table and (n_docs, total_dl) stats
    * supplied — what the committed index stores at append time so a query
    * never re-aggregates the postings to recover them.
    */
  def scoresWith(posts: DataFrame, lens: DataFrame, stats: DataFrame,
      queries: DataFrame): DataFrame = {
    // distinct: a query built by tokenizing user text can repeat a term,
    // and a duplicate (qid, term) row would double that term's BM25
    // contribution (tf already carries within-doc frequency; the query
    // side is a term SET)
    val qTerms = queries.select(col("qid"), col("term")).distinct()
    // The query batch's term VOCABULARY is driver-small by construction
    // (it is the user's query text, not corpus data), so collect it and
    // push an IN predicate onto the postings frame: against a committed
    // generation it reaches the parquet scan (PushedFilters + min/max row-
    // group pruning on the term-sorted files); against a freshly built
    // postings frame Catalyst pushes it through the (term, doc_id) groupBy
    // so only matching tokens are ever aggregated. Before this, the
    // corpus-sized posts subtree was evaluated TWICE un-pruned (df pass +
    // candidate pass — guide §2.4 duplicated-subtree smell).
    val termList = qTerms.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    val matched = posts.filter(col("term").isin(termList: _*))
    // df = postings rows per term, over the SAME term-pruned subtree via a
    // window instead of a second aggregation pass + broadcast join
    val cand = matched
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))).cast("long"))
      .join(broadcast(qTerms), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      // fixed-point products ride decimal(38,0) where they exceed Long at
      // a 10¹²-doc index (dl×N, (N-df)×10⁶×sat); the quotients — ppk
      // norms, ppm idf, per-term contributions — always fit
      .withColumn("norm_ppk",
        expr("250L + (cast(750 AS decimal(38,0)) * dl * n_docs) div total_dl"))
      .withColumn("idf_ppm",
        expr("(cast(2*(n_docs - df) + 1 AS decimal(38,0)) * 1000000) div (2L*df + 1L)"))
      .withColumn("sat_ppk",
        expr("(2200L * tf * 1000L) div (1000L * tf + (1200L * norm_ppk) div 1000L)"))
      .withColumn("contrib",
        expr("(cast(idf_ppm AS decimal(38,0)) * sat_ppk) div 1000"))
    cand.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib")).cast("long").as("score"))
  }

  /** Anchor-boosted fielded search — the web-IR signal stack: body BM25
    * plus `anchorWeight` × anchor-field BM25 (the linear field
    * combination; each field keeps its OWN length norms and df — anchor
    * streams are short and repetitive, body norms would crush them).
    * A doc matched only through anchors pointing AT it still ranks —
    * the classic "page never says its own name" case (full-outer score
    * join). Scale shape: two postings scans + one (qid, doc)-keyed
    * candidate-sized join; the corpus is never touched.
    *
    * @param bodyPosts   postings over document body text
    * @param anchorPosts postings over the anchor text aggregated per
    *                    TARGET doc (q90's anchor index shape)
    */
  def searchTopKFielded(bodyPosts: DataFrame, anchorPosts: DataFrame,
      queries: DataFrame, k: Int, anchorWeight: Long = 3L,
      bodyLensStats: Option[(DataFrame, DataFrame)] = None,
      anchorLensStats: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    def fieldScores(posts: DataFrame,
        ls: Option[(DataFrame, DataFrame)]): DataFrame = ls match {
      case Some((lens, stats)) => scoresWith(posts, lens, stats, queries)
      case None => scores(posts, queries)
    }
    val b = fieldScores(bodyPosts, bodyLensStats)
      .withColumnRenamed("score", "body_score")
    val a = fieldScores(anchorPosts, anchorLensStats)
      .withColumnRenamed("score", "anchor_score")
    val combined = b.join(a, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(col("body_score"), lit(0L)) +
          lit(anchorWeight) * coalesce(col("anchor_score"), lit(0L))).as("score"))
    rankTopK(combined, k)
  }

  /** Two-phase top-k over (qid, doc_id, score): per-hash-shard partial
    * rank → global rank, provably ≡ the single-phase window (each shard
    * keeps its k best, the union holds every global top-k member), while
    * no task ever sorts a query's full candidate set.
    */
  def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val wLocal = Window.partitionBy(col("qid"), col("__shard"))
      .orderBy(col("score").desc, col("doc_id"))
    val wGlobal = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("__shard", pmod(xxhash64(col("doc_id")), lit(64L)))
      .withColumn("__lr", row_number().over(wLocal)).filter(col("__lr") <= k)
      .withColumn("rank", row_number().over(wGlobal).cast("long")).filter(col("rank") <= k)
      .drop("__shard", "__lr")
  }
}
