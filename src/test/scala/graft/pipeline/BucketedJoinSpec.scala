package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Co-located joins via storage bucketing — the other half of the 100 TB
  * join posture (SkewSpec covers salting/AQE for the keys you CAN'T
  * co-locate). Two tables bucketed by the join key into the same bucket
  * count join WITHOUT a shuffle: at corpus scale this is the difference
  * between re-shuffling 100 TB per join and reading co-located buckets.
  */
class BucketedJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // materialize so AQE finalizes the plan
    // AQE wraps materialized exchanges in LEAF QueryStageExec nodes —
    // descend through their `plan` or the count misses every shuffle
    def strip(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
      case q: QueryStageExec => strip(q.plan)
      case s: ShuffleExchangeExec => 1 + s.children.map(strip).sum
      case other => other.children.map(strip).sum
    }
    strip(df.queryExecution.executedPlan)
  }

  test("bucketed tables join with ZERO shuffles; unbucketed same join shuffles both sides") {
    import spark.implicits._
    val tmp = graft.TestDirs.create("graft-bucketed").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val pages = ExtractStage.generatePages(spark, 1200, partitions = 8).toDF()
        .select($"url", length($"html").cast("long").as("bytes"))
      val meta = ExtractStage.generatePages(spark, 1200, partitions = 8).toDF()
        .select($"url", $"lang", to_date($"warc_ts").as("day"))

      // external bucketed tables: bucket count AND key match the join
      pages.write.bucketBy(8, "url").sortBy("url")
        .option("path", s"$tmp/pages_b").saveAsTable("graft_pages_b")
      meta.write.bucketBy(8, "url").sortBy("url")
        .option("path", s"$tmp/meta_b").saveAsTable("graft_meta_b")

      val bucketed = spark.table("graft_pages_b")
        .join(spark.table("graft_meta_b"), "url")
        .groupBy($"lang").agg(sum($"bytes").as("total"))
      // the only exchange left is the final groupBy's — the JOIN itself
      // rides the storage bucketing (outputPartitioning matches both sides)
      val bucketedJoinOnly = spark.table("graft_pages_b")
        .join(spark.table("graft_meta_b"), "url")
      assert(shuffles(bucketedJoinOnly) == 0,
        "bucketed join must not shuffle either side")

      // control: identical data, no bucketing → both sides shuffle
      pages.write.option("path", s"$tmp/pages_u").saveAsTable("graft_pages_u")
      meta.write.option("path", s"$tmp/meta_u").saveAsTable("graft_meta_u")
      val unbucketed = spark.table("graft_pages_u")
        .join(spark.table("graft_meta_u"), "url")
      assert(shuffles(unbucketed) >= 2,
        "unbucketed SMJ must exchange both sides")

      // and the results are identical
      val a = bucketed.as[(String, Long)].collect().sortBy(_._1)
      val b = spark.table("graft_pages_u").join(spark.table("graft_meta_u"), "url")
        .groupBy($"lang").agg(sum($"bytes").as("total"))
        .as[(String, Long)].collect().sortBy(_._1)
      assert(a.sameElements(b))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq("graft_pages_b", "graft_meta_b", "graft_pages_u", "graft_meta_u")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
