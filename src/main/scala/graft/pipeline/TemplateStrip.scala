package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-host template removal — the site-boilerplate pass production web
  * corpora run between extraction and dedup (CCNet strips paragraphs
  * repeated across a shard; trafilatura/jusText drop per-site nav/footer
  * blocks): a paragraph that appears on MORE than `thresholdPpk`‰ of a
  * host's pages is that host's TEMPLATE (navigation, footer, cookie
  * banner), not content, and is stripped from every page of the host.
  *
  * This is deliberately different from global paragraph dedup
  * ([[graft.Queries]] q79): dedup keeps the FIRST occurrence of a repeated
  * paragraph — so every host keeps one copy of its own footer — while the
  * template rule removes ALL occurrences, because a block whose presence
  * is explained by the site, not the page, carries no training signal at
  * all. The two compose (template strip first, dedup after).
  *
  * Decision rule, integer-exact so an oracle can mirror it:
  * `para_docs * 1000 > host_docs * thresholdPpk` with `host_docs >=
  * minHostDocs`. STRICT majority matters: at the default 500‰ an
  * inclusive rule would flag every unique paragraph of a two-page host
  * (1 of 2 = exactly 50%) and strip the host's whole content; a
  * single-page host is excluded for the same reason (no evidence of a
  * template at all).
  *
  * Scale shape: two hash aggregations (per-(host,para) doc counts, per-host
  * doc counts — both map-side combined) and one join back on the
  * (host, para) key; the per-host table is host-cardinality, the template
  * table is content-proportional but far smaller than the corpus, and
  * nothing ever sorts globally. Reassembly groups by doc and sorts the
  * surviving chunk indices inside `sort_array` — per-row array work, not a
  * window.
  */
object TemplateStrip {

  /** Explode `textCol` into deterministic non-overlapping `chunkWords`-word
    * paragraphs (the single-line-corpus convention shared with q79).
    * Output: input columns + (`pidx`, `para`).
    */
  def paragraphs(docs: DataFrame, textCol: String, chunkWords: Int = 8): DataFrame =
    docs
      .withColumn("__wrd", split(col(textCol), " "))
      .withColumn("__chunks", expr(
        s"transform(sequence(0, cast(ceil(size(__wrd)/$chunkWords.0) as int)-1), " +
          s"i -> concat_ws(' ', slice(__wrd, i*$chunkWords+1, $chunkWords)))"))
      .select(col("*"), posexplode(col("__chunks")).as(Seq("pidx", "para")))
      .drop("__wrd", "__chunks")

  /** Strip template paragraphs from every page of every host: returns one
    * row per input doc with the surviving text reassembled in paragraph
    * order (`clean_text`), plus accounting columns (`n_paras`,
    * `n_removed`, `host_docs`).
    */
  def strip(docs: DataFrame, hostCol: String, idCol: String, textCol: String,
      chunkWords: Int = 8, thresholdPpk: Long = 500L,
      minHostDocs: Long = 2L): DataFrame = {
    val paras = paragraphs(docs, textCol, chunkWords)
    val flagged = flag(paras, hostCol, idCol, thresholdPpk, minHostDocs)
    flagged
      .groupBy(col(idCol), col(hostCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("is_template"), 1L).otherwise(0L)).as("n_removed"),
        max(col("host_docs")).as("host_docs"),
        array_join(transform(
          sort_array(collect_list(when(!col("is_template"),
            struct(col("pidx"), col("para"))))),
          s => s.getField("para")), " ").as("clean_text"))
  }

  /** The decision join on an already-exploded paragraph table: adds
    * `host_docs` and `is_template`.
    */
  def flag(paras: DataFrame, hostCol: String, idCol: String,
      thresholdPpk: Long = 500L, minHostDocs: Long = 2L): DataFrame = {
    // r6: both counting aggregations read a pinned NARROW key projection
    // of the paragraph table instead of each re-running the full explode
    // subtree (3 passes -> 2: one for the keys, one for the decision join)
    val keys = paras.select(col(hostCol), col(idCol), col("para"))
      .transform(Pin(_))
    val hostDocs = keys.groupBy(col(hostCol))
      .agg(countDistinct(col(idCol)).as("host_docs"))
    val paraDocs = keys.groupBy(col(hostCol), col("para"))
      .agg(countDistinct(col(idCol)).as("para_docs"))
    paras
      .join(paraDocs, Seq(hostCol, "para"))
      .join(hostDocs, Seq(hostCol))
      .withColumn("is_template",
        col("host_docs") >= minHostDocs &&
          col("para_docs") * 1000L > col("host_docs") * thresholdPpk)
      .drop("para_docs")
  }
}
