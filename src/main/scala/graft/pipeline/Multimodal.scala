package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `BINARY` columns with typed metadata, batch-decoded inside
  * `mapPartitions` (the Scala analog of a Pandas-UDF-over-`mapInPandas`
  * stage: per-partition batching amortizes decoder setup; schema in/out is
  * fixed and columnar-friendly).
  *
  * The decode step itself is STUBBED — no image/audio codecs exist in this
  * sandbox — with a deterministic fake that derives "features" from the
  * payload bytes, clearly marked below. Everything around it (schema,
  * partitioning, batch shape, null/error handling) is real and tested.
  */
object Multimodal {

  final case class MediaMeta(
      url: String,
      media_type: String, // image | audio | pdf | html | unknown
      n_bytes: Long,
      width: Int, // STUB-derived
      height: Int, // STUB-derived
      duration_ms: Long, // STUB-derived (audio)
      features: Array[Float]) // STUB-derived embedding (8-dim)

  /** Magic-byte sniffing — real (same approach as production media
    * pipelines; these are the true public magic numbers).
    */
  def sniff(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 4) "unknown"
    else if (bytes(0) == 0x89.toByte && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') "image"
    else if (bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) "image" // JPEG
    else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F') "audio" // WAV
    else if (bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') "audio" // MP3
    else if (bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' && bytes(3) == 'F') "pdf"
    else if (bytes(0) == '<' || (bytes(0) == '<' && bytes(1) == '!')) "html"
    else "html" // pages-table payloads default to markup
  }

  /** ======== STUB ========
    * Deterministic fake decoder: real codecs (libjpeg/ffmpeg/...) are not
    * present in this container. Derives stable pseudo-features from the
    * byte content so the downstream plumbing (schema, joins, ANN over the
    * feature column) is exercised end-to-end. Swap this single function
    * for a real decoder on a production cluster.
    */
  private def stubDecode(bytes: Array[Byte]): (Int, Int, Long, Array[Float]) = {
    if (bytes == null || bytes.isEmpty) return (0, 0, 0L, Array.fill(8)(0f))
    var h = 1125899906842597L // deterministic FNV-ish rolling hash
    var i = 0
    while (i < math.min(bytes.length, 4096)) { h = 31 * h + bytes(i); i += 1 }
    val w = 64 + ((h & 0x3FF).toInt)
    val ht = 64 + (((h >>> 10) & 0x3FF).toInt)
    val dur = (h >>> 20) & 0xFFFFF
    val feats = Array.tabulate(8)(j => (((h >>> (j * 7)) & 0xFF).toInt - 128) / 128.0f)
    (w, ht, dur, feats)
  }
  // ======== END STUB ========

  /** The batch decode stage: one decoder "session" per partition (the
    * amortization point), one typed row out per payload.
    */
  def decodeStage(pages: Dataset[Page]): Dataset[MediaMeta] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      // per-partition decoder setup would go here (codec contexts etc.)
      it.map { p =>
        val kind = sniff(p.html)
        val (w, h, dur, feats) = stubDecode(p.html)
        MediaMeta(p.url, kind, if (p.html == null) 0L else p.html.length.toLong,
          w, h, if (kind == "audio") dur else 0L, feats)
      }
    }
  }

  final case class ResizedMedia(
      url: String,
      media_type: String,
      orig_w: Int, orig_h: Int,
      new_w: Int, new_h: Int,
      payload: Array[Byte]) // STUB-resampled bytes

  /** Resize stage: the aspect-preserving dimension math (what a real
    * resize computes) is REAL; only the pixel resampling is stubbed (a
    * deterministic byte decimation standing in for the codec call).
    * Output schema is the production shape: typed metadata + binary.
    */
  def resizeStage(pages: Dataset[Page], maxDim: Int): Dataset[ResizedMedia] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      it.map { p =>
        val kind = sniff(p.html)
        val (w, h, _, _) = stubDecode(p.html)
        // real logic: cap the longest side at maxDim, preserve aspect,
        // never upscale, round half-up, floor at 1px; a 0x0 (empty/
        // undecodable) payload passes through as 0x0
        val scale = if (w <= 0 || h <= 0) 1.0
          else math.min(1.0, maxDim.toDouble / math.max(w, h))
        val nw = if (w <= 0) 0 else math.max(1, math.round(w * scale).toInt)
        val nh = if (h <= 0) 0 else math.max(1, math.round(h * scale).toInt)
        // ======== STUB ======== byte decimation in place of resampling
        val ratio = math.max(1, (w.toLong * h / math.max(1L, nw.toLong * nh)).toInt)
        val bytes = if (p.html == null) Array.empty[Byte]
          else p.html.indices.collect { case i if i % ratio == 0 => p.html(i) }.toArray
        // ======== END STUB ========
        ResizedMedia(p.url, kind, w, h, nw, nh, bytes)
      }
    }
  }

  final case class Frame(
      url: String,
      frame_idx: Int,
      frame_ts_ms: Long,
      frame: Array[Byte]) // STUB frame bytes

  /** Frame-sampling stage: one output row per sampled frame (the flatMap
    * generator shape a video pipeline needs — row counts multiply, so the
    * stage must stream, never buffer a whole video's frames). Frame
    * timing/count math is real; frame content is stubbed.
    */
  def frameSampleStage(pages: Dataset[Page], everyMs: Long, maxFrames: Int = 32): Dataset[Frame] = {
    require(everyMs > 0, s"everyMs must be positive, got $everyMs")
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      it.flatMap { p =>
        val (_, _, durMs, _) = stubDecode(p.html)
        if (durMs <= 0) Iterator.empty
        else {
          val n = math.min(maxFrames.toLong, durMs / everyMs + 1).toInt
          // stream frames lazily: O(1) memory per in-flight frame
          (0 until n).iterator.map { i =>
            val ts = i * everyMs
            // ======== STUB ======== deterministic fake frame bytes
            val b = Array.tabulate(16)(j => ((ts + j) % 251).toByte)
            // ======== END STUB ========
            Frame(p.url, i, ts, b)
          }
        }
      }
    }
  }

  /** Feature-space near-dup over the stub features: cosine similarity via
    * the same HOF pattern as the embeddings KNN (shares the scale path).
    */
  def featureKnn(meta0: DataFrame, k: Int = 3): DataFrame = {
    // empty payloads decode to the zero vector — no direction, excluded
    // r6: pinned — both self-join sides read the decode-stage output
    // (without the pin each side re-ran the full decode), and norms are
    // computed once per SIDE instead of twice per pair (bit-identical:
    // same sqrt(Σx²) expression over the same array)
    val meta = meta0.filter(
      expr("aggregate(features, 0D, (acc,x) -> acc + cast(x AS DOUBLE)*x)") > 0)
      .withColumn("__nrm",
        expr("sqrt(aggregate(features, 0D, (acc,x) -> acc + cast(x AS DOUBLE)*x))"))
      .transform(Pin(_))
    val q = meta.select(col("url").as("query_url"), col("features").as("qf"),
      col("media_type"), col("__nrm").as("nq"))
    val c = meta.select(col("url").as("cand_url"), col("features").as("cf"),
      col("media_type"), col("__nrm").as("nc"))
    import org.apache.spark.sql.expressions.Window
    val pairs = q.join(c, Seq("media_type")).filter(col("query_url") =!= col("cand_url"))
      .withColumn("cos", round(
        expr("aggregate(zip_with(qf, cf, (a,b) -> cast(a AS DOUBLE)*b), 0D, (acc,x) -> acc+x)") /
          (col("nq") * col("nc")), 3))
    val w = Window.partitionBy(col("query_url")).orderBy(col("cos").desc, col("cand_url").asc)
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("media_type"), col("query_url"), col("rnk"), col("cand_url"), col("cos"))
  }
}
