package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Host-graph PageRank in integer parts-per-million (damping 0.85 as the
  * 150000 + 850·c/1000 update) — the crawl-prioritization signal
  * (OPIC/PageRank-ordered frontiers are how production crawlers decide
  * who gets budget). Factored out of q89 so the oracled query and the
  * budget-allocation operator ([[CrawlPlanner.rankedWaves]]) run the
  * SAME code. Integer arithmetic keeps Spark and DuckDB bit-exact — no
  * float drift across engines or partitionings.
  *
  * The fixed-iteration form here is the oracle-friendly surface; a
  * production run iterates to a fixpoint with a [[Pin]] every few
  * rounds (the connectedComponents pattern used by Dedup.clusters) —
  * each iteration is one hash join edges⋈ranks + one hash agg, over
  * host-cardinality tables (orders of magnitude smaller than the corpus).
  */
object HostRank {

  /** @param edges (src, dst) distinct host-level edges
    * @return (host, rank_ppm) for every host appearing as src or dst
    */
  def ranks(edges: DataFrame, iterations: Int = 3): DataFrame = {
    val hosts = edges.select(col("src").as("host"))
      .union(edges.select(col("dst").as("host"))).distinct()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    var r = hosts.select(col("host"), lit(1000000L).as("r"))
    (1 to iterations).foreach { _ =>
      val contrib = edges
        .join(deg, "src")
        .join(r.withColumnRenamed("host", "src"), "src")
        .select(col("dst").as("host"), expr("r div outdeg").as("c"))
        .groupBy(col("host")).agg(sum(col("c")).as("contrib"))
      r = hosts.join(contrib, Seq("host"), "left")
        .select(col("host"),
          (lit(150000L) + expr("(850 * coalesce(contrib, 0L)) div 1000")).as("r"))
    }
    r.select(col("host"), col("r").cast("long").as("rank_ppm"))
  }
}
