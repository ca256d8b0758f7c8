package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SaveMode}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** The one commit path of the bucketed tables (the extract table and the
  * curated kept corpus), the one writer for every partitioned table in
  * `graft.pipeline`, and the JSONL manifest I/O they all share.
  *
  * Commit protocol. A table is partitioned on its hidden bucket
  * `part_bucket = pmod(xxhash64(url), numBuckets)` (Iceberg `bucket(url)`)
  * plus the caller's other partition columns. [[commitGroups]] shuffles
  * the buckets still to commit ONCE per call, one bucket per partition
  * (`repartitionById` on the bucket's slot, so no two buckets share a
  * task), and commits them in snapshot groups that each read only their
  * own partitions of that shuffle. Each group's parquet write completes
  * BEFORE its manifest line is appended; the write uses dynamic partition
  * overwrite, so re-running a torn group replaces exactly its buckets and
  * never appends duplicate rows. A kill therefore wastes at most the
  * input scan + shuffle plus one group's work. Nothing is pinned: a lost
  * executor's map output recomputes from the input. Resume reads the
  * manifest ([[ExtractPipeline.committedBuckets]]) and leaves committed
  * buckets out of the next call. Lineage is one row per committed bucket,
  * with `partition_id` = the bucket id.
  */
object Commit {

  /** The hidden-partition bucket of a url. */
  def bucketOf(url: Column, numBuckets: Int): Column =
    pmod(xxhash64(url), lit(numBuckets)).cast("int")

  /** Write `df` as a parquet table partitioned by `partitionCols`. */
  def write(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      // dynamic partition overwrite: a rewrite replaces exactly the
      // partitions it writes, never others. Scoped to THIS write (not the
      // session conf) so callers' other writes keep their own semantics.
      .option("partitionOverwriteMode", "dynamic")
      .options(LocalFs.writeOptions)
      .option("compression", "zstd") // text-heavy output: zstd ≫ snappy at scale
      // 16 MB row groups: the default 128 MB makes every write task hold
      // a huge column buffer — on faulting-sensitive hosts that's a 2-3x
      // throughput hit (BENCH.md), and smaller groups parallelize reads
      .option("parquet.block.size", (16 * 1024 * 1024).toString)
      .parquet(path)

  /** Commit `buckets` of `input` (which carries `part_bucket`) to
    * `outDir/data` following the protocol above, in snapshot groups of
    * ⌈numBuckets / snapshotGroups⌉ buckets (a full run commits
    * `snapshotGroups` snapshots, a resume fewer). `step` maps one input row to its output row and whether it is
    * ok and how many input bytes it holds; `partitionCols` (name,
    * expression over the output row) are added to the output and
    * partition the table, in order.
    *
    * @return lineage rows, one per committed bucket, in commit order
    */
  def commitGroups[I, O: Encoder](input: Dataset[I], outDir: String,
      numBuckets: Int, buckets: Seq[Int], snapshotGroups: Int, runId: String,
      partitionCols: Seq[(String, Column)])(step: I => (O, Boolean, Long)): Seq[LineageRow] = {
    if (buckets.isEmpty) return Seq.empty
    val spark = input.sparkSession
    implicit val outTag: ClassTag[O] = implicitly[Encoder[O]].clsTag

    // slot = the bucket's index in `buckets` (-1: not written), so the one
    // shuffle places exactly one bucket in each partition, with no hash
    // collisions, and the writer emits one file per partition value. One
    // array read per row, indexed by bucket id, whatever numBuckets is.
    val slotOf = Array.fill(numBuckets)(-1)
    buckets.zipWithIndex.foreach { case (b, s) => slotOf(b) = s }
    val slot = element_at(typedLit(slotOf), col("part_bucket") + 1)
    val shuffled = input.filter(slot >= 0).repartitionById(buckets.length, slot).rdd

    val groupSize = math.max(1, (numBuckets + snapshotGroups - 1) / snapshotGroups)
    buckets.indices.grouped(groupSize).toSeq.zipWithIndex.flatMap { case (slots, gi) =>
      val group = slots.map(buckets)
      val snapshotId = f"snap-$runId-$gi%03d"
      val metricsAcc = spark.sparkContext.collectionAccumulator[LineageRow](s"lineage-$snapshotId")
      // this group's slots of the shared shuffle: the map stage ran once,
      // later groups fetch its output and skip it
      val counted = PartitionPruningRDD.create(shuffled, slots.contains(_))
        .mapPartitionsWithIndex { (i, it) =>
          val t0 = System.nanoTime()
          var rows = 0L; var ok = 0L; var bytes = 0L
          var reported = false
          val out = it.map { r =>
            val (o, good, b) = step(r)
            rows += 1
            if (good) ok += 1
            bytes += b
            o
          }
          new Iterator[O] {
            def hasNext: Boolean = {
              val h = out.hasNext
              if (!h && !reported) {
                reported = true
                metricsAcc.add(LineageRow(runId, snapshotId, group(i), rows, ok, rows - ok,
                  bytes, (System.nanoTime() - t0) / 1000000, "committed"))
              }
              h
            }
            def next(): O = out.next()
          }
        }
      val table = partitionCols.foldLeft(spark.createDataset(counted).toDF()) {
        case (df, (name, c)) => df.withColumn(name, c)
      }
      write(table, s"$outDir/data", partitionCols.map(_._1): _*)

      // dedupe by bucket: a retried or speculative task reaches the
      // end-of-iterator report twice with identical (deterministic)
      // counts — keep one row per bucket so the manifest audit trail
      // never overcounts
      val lineage = metricsAcc.value.asScala.toSeq
        .groupBy(_.partition_id).map(_._2.head).toSeq.sortBy(_.partition_id)
      ExtractPipeline.appendManifest(outDir, runId, snapshotId, group, lineage)
      lineage
    }
  }

  // ---- JSONL manifests ----------------------------------------------------

  /** `outDir/_manifest/<name>`, where every table keeps its manifests. */
  def manifest(outDir: String, name: String): Path = Paths.get(outDir, "_manifest", name)

  /** Append one JSON line to a manifest, creating it and its directory. */
  def appendLine(manifest: Path, json: String): Unit = {
    Files.createDirectories(manifest.getParent)
    Files.write(manifest, (json + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** A manifest's non-empty lines; none when it does not exist. */
  def lines(manifest: Path): Seq[String] =
    if (!Files.exists(manifest)) Seq.empty
    else Files.readAllLines(manifest).asScala.toSeq.filter(_.nonEmpty)

  /** The raw value of the first `"key":` in a manifest line: a number as
    * written, a string without its quotes, or an array's elements without
    * the brackets ("" when empty). Keys are matched with their quotes, so
    * `version` never matches `labels_version`. None also when the value is
    * cut off (a torn last line).
    */
  def field(line: String, key: String): Option[String] = {
    val at = line.indexOf("\"" + key + "\":")
    val from = at + key.length + 3
    if (at < 0 || from >= line.length) None
    else {
      val (start, end) = line.charAt(from) match {
        case '"' => (from + 1, line.indexOf('"', from + 1))
        case '[' => (from + 1, line.indexOf(']', from))
        case _ => (from, line.indexWhere(c => c == ',' || c == '}', from))
      }
      if (end < 0) None else Some(line.substring(start, end))
    }
  }

  /** A numeric field, as a long. */
  def longField(line: String, key: String): Option[Long] =
    field(line, key).flatMap(_.toLongOption)

  /** A numeric array field's elements, as longs (none when absent). */
  def longsField(line: String, key: String): Seq[Long] =
    field(line, key).toSeq.flatMap(_.split(",").flatMap(_.toLongOption))
}
