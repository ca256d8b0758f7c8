package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.InvertedIndex

/** Measures the committed-index claim directly: appending a fixed-size
  * batch to a growing index should stay ~flat — each `append` scans only
  * its batch and writes one new generation — while rebuilding the whole
  * index grows 1:1 with the corpus. Also times a query against the multi-
  * generation index vs the compacted one, since compaction is what keeps
  * read amplification bounded as generations accrue.
  *
  * Usage: IndexBench [seedDocs] [batchDocs] [nBatches] [cores]
  * Prints one JSON line.
  */
object IndexBench {

  def docs(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.range(from, until).select(
      col("id").as("doc_id"),
      // 40-word docs over a ~4k-term vocabulary (Zipf-ish via md5 of a
      // capped key) — realistic posting-list skew without RNG
      expr("concat_ws(' ', transform(sequence(1, 40), i -> " +
        "substr(md5(cast(pmod(doc_id * 37 + i * 101, 4096) AS string)), 1, 6)))")
        .as("text"))

  def main(args: Array[String]): Unit = {
    val seedN = if (args.length > 0) args(0).toLong else 200000L
    val batchN = if (args.length > 1) args(1).toLong else 25000L
    val nBatches = if (args.length > 2) args(2).toInt else 3
    val cores = if (args.length > 3) args(3) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-index-bench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val qs = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, docTerm(0)), org.apache.spark.sql.Row(1L, docTerm(7)),
        org.apache.spark.sql.Row(2L, docTerm(13))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType))))

    val idxDir = java.nio.file.Files.createTempDirectory("graft-idxbench").toString
    val seedSec = timed { InvertedIndex.append(spark, docs(spark, 0, seedN), idxDir) }
    val appendSecs = (0 until nBatches).map { k =>
      val from = seedN + k * batchN
      timed { InvertedIndex.append(spark, docs(spark, from, from + batchN), idxDir) }
    }
    val total = seedN + nBatches * batchN

    // full rebuild over the final corpus (what the append path avoids)
    val fullDir = java.nio.file.Files.createTempDirectory("graft-idxbench-full").toString
    val fullSec = timed { InvertedIndex.append(spark, docs(spark, 0, total), fullDir) }

    // query cost: multi-generation read vs compacted read (the stats-aware
    // committed path — lengths from l<g>, stats from the manifest)
    def search(dir: String): Long =
      InvertedIndex.searchTopKIndexed(spark, dir, qs, k = 10).count()
    val qMulti = timed(search(idxDir))
    val compactSec = timed { InvertedIndex.compactGenerations(spark, idxDir) }
    val qCompact = timed(search(idxDir))

    // sanity: incremental index == rebuilt index, posting for posting
    // checksum rides pmod: a raw sum of 64-bit hashes overflows Long past
    // ~10M postings (ANSI mode faults; the mod keeps the sum < 10^16)
    def digest(df: DataFrame) = df.agg(count(lit(1)), sum(col("tf")),
      sum(pmod(xxhash64(col("term"), col("doc_id"), col("tf")), lit(1000000007L)))).head()
    val a = digest(InvertedIndex.read(spark, idxDir))
    val b = digest(InvertedIndex.read(spark, fullDir))
    require(a == b, s"postings mismatch: $a != $b")

    val appJson = appendSecs.map(s => f"$s%.2f").mkString("[", ",", "]")
    println(f"""{"metric":"index_bench","seed_docs":$seedN,"seed_sec":$seedSec%.2f,"batch_docs":$batchN,"append_secs":$appJson,"full_docs":$total,"full_rebuild_sec":$fullSec%.2f,"search_multi_gen_sec":$qMulti%.2f,"compact_sec":$compactSec%.2f,"search_compacted_sec":$qCompact%.2f,"postings":${a.getLong(0)},"cores":"$cores"}""")
    spark.stop()
  }

  /** A term actually present in the synthetic vocabulary. */
  private def docTerm(k: Long): String = {
    val key = ((k * 37 + 101) % 4096).toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 6)
  }
}
