package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SaveMode, SparkSession}
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
  *
  * Versioned fold. A table that grows one top-level `<prefix>=<k>`
  * partition per write under `dir/data` (the stream extract table's
  * `ingest_batch`, the kept table's `curate_inc`) is folded, read and
  * vacuumed by [[fold]], [[readFolded]] and [[vacuum]]; see the note
  * above them.
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

  // ---- versioned fold -----------------------------------------------------
  //
  // A table that gains one `dir/data/<prefix>=<k>` prefix per write (×
  // buckets × days) opens ever more small directories per read. [[fold]]
  // collapses the committed prefixes into one versioned plain layout
  //   dir/compact/v<N>/part_bucket=<b>/warc_day=<d>/…  (≈1 file each)
  // where the prefix becomes a data column, so every row keeps its
  // provenance, and commits the fold by appending
  // {"version":N,"folded":[k…]} to `_manifest/compact_manifest.jsonl`
  // AFTER the write: the Iceberg snapshot pattern. A fold killed before
  // its line is invisible, and its replay rewrites the same version
  // directory. Only the prefixes the caller names as committed are ever
  // read or folded: a torn write's files are on disk but invisible, as a
  // whole, until its own commit lands. Readers see compact v<current> ∪
  // committed unfolded prefixes, so every committed row is visible exactly
  // once at every point. Single maintenance writer assumed (as with
  // Iceberg's rewrite_data_files and expire_snapshots).

  private final case class FoldState(version: Long, folded: Set[Long])

  private def foldState(dir: String): FoldState = {
    val ls = lines(manifest(dir, "compact_manifest.jsonl"))
    FoldState((0L +: ls.flatMap(longField(_, "version"))).max,
      ls.flatMap(longsField(_, "folded")).toSet)
  }

  private def compactDir(dir: String, v: Long) = s"$dir/compact/v$v"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The prefixes `ks` whose `root/<prefix>=<k>` directory holds a
    * parquet file, sorted: a rows-less prefix has nothing to read and would
    * fail schema inference.
    */
  private def withRows(spark: SparkSession, root: String, prefix: String,
      ks: Set[Long]): Seq[Long] = {
    val fs = fsOf(spark, root)
    // listStatus, not listFiles: a LocatedFileStatus reads each entry's
    // owner and mode, which the local file system without Hadoop's native
    // library gets by forking `ls -ld` per entry
    def holdsParquet(p: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(p).exists { s =>
        if (s.isDirectory) holdsParquet(s.getPath) else s.getPath.getName.endsWith(".parquet")
      }
    ks.toSeq.sorted.filter { k =>
      val path = new org.apache.hadoop.fs.Path(s"$root/$prefix=$k")
      fs.exists(path) && holdsParquet(path)
    }
  }

  /** Rows of the prefixes `ks` of the table at `root` that hold rows;
    * None when none does. Only those prefix directories are listed, and the
    * prefix column reads as a long (partition-dir inference narrows it to
    * int; the compact layout stores it as a long data column).
    */
  def readPrefixes(spark: SparkSession, root: String, prefix: String,
      ks: Set[Long]): Option[DataFrame] = {
    val live = withRows(spark, root, prefix, ks)
    if (live.isEmpty) None
    else Some(spark.read.option("basePath", root)
      .parquet(live.map(k => s"$root/$prefix=$k"): _*)
      .withColumn(prefix, col(prefix).cast("long")))
  }

  /** The table's committed rows: compact v<current> ∪ the `committed`
    * prefixes not folded into it; None when there are none.
    */
  def readFolded(spark: SparkSession, dir: String, prefix: String,
      committed: Set[Long]): Option[DataFrame] = {
    val st = foldState(dir)
    val compacted =
      if (st.version == 0L) None
      else Some(spark.read.parquet(compactDir(dir, st.version)))
    (compacted ++ readPrefixes(spark, s"$dir/data", prefix, committed -- st.folded))
      .reduceOption(_ unionByName _)
  }

  /** Fold the `committed` prefixes not yet folded that hold rows into
    * compact v<N+1>, one bucket per write task, and commit the fold.
    * @return the new version, or the current one when nothing is to fold
    */
  def fold(spark: SparkSession, dir: String, prefix: String, committed: Set[Long],
      numBuckets: Int): Long = {
    val st = foldState(dir)
    val todo = withRows(spark, s"$dir/data", prefix, committed -- st.folded)
    if (todo.isEmpty) return st.version
    val next = st.version + 1
    write(readFolded(spark, dir, prefix, committed).get
      .repartitionById(numBuckets, col("part_bucket")),
      compactDir(dir, next), "part_bucket", "warc_day")
    appendLine(manifest(dir, "compact_manifest.jsonl"),
      s"""{"version":$next,"folded":[${(st.folded ++ todo).toSeq.sorted.mkString(",")}]}""")
    next
  }

  /** Delete folded prefixes and compact versions older than the current
    * one. Lossless: every folded row lives on in the current version. Run
    * only when no reader is mid-query.
    */
  def vacuum(spark: SparkSession, dir: String, prefix: String): Unit = {
    val st = foldState(dir)
    st.folded.foreach(k => delete(spark, s"$dir/data/$prefix=$k"))
    (1L until st.version).foreach(v => delete(spark, compactDir(dir, v)))
  }

  /** Recursively delete `path` through its Hadoop FileSystem; a missing
    * path is a no-op.
    */
  def delete(spark: SparkSession, path: String): Unit =
    fsOf(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)

  // ---- JSONL manifests ----------------------------------------------------

  /** `outDir/_manifest/<name>`, where every table keeps its manifests. */
  def manifest(outDir: String, name: String): Path = Paths.get(outDir, "_manifest", name)

  /** Append one JSON line to a manifest, creating it and its directory. */
  def appendLine(manifest: Path, json: String): Unit = {
    Files.createDirectories(manifest.getParent)
    Files.write(manifest, (json + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Replace a manifest's content with `lines` in one atomic step: a
    * reader or a crash sees the old content or the new, never a torn one.
    */
  def rewrite(manifest: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(manifest.getParent)
    val tmp = manifest.resolveSibling(s".${manifest.getFileName}.tmp")
    Files.write(tmp, lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** A manifest's non-empty lines; none when it does not exist. */
  def lines(manifest: Path): Seq[String] =
    if (!Files.exists(manifest)) Seq.empty
    else Files.readAllLines(manifest).asScala.toSeq.filter(_.nonEmpty)

  /** The raw value of the first `"key":` in a manifest line: a number as
    * written, a string without its quotes, or an array's elements without
    * the brackets ("" when empty). Keys are matched with their quotes, so
    * `id` never matches `batch_id`. None also when the value is cut off
    * (a torn last line).
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
