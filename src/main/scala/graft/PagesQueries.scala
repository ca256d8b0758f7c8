package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extraction-pipeline queries over the deterministic synthetic pages table
  * (FIXTURES.md §1). These exercise the non-SQL-expressible core (HTML
  * boilerplate strip, PDF parse, field rules) — no DuckDB oracle; the
  * driver records rows-only checks, and byte-level correctness is pinned
  * by the golden-fixture suite (`sbt -batch test`).
  */
object PagesQueries {

  /** Page count scales with the testdata SF so bench load tracks sf. */
  private def pageCount(sfDir: String): Long =
    if (sfDir.contains("0.1")) 4000L
    else if (sfDir.contains("0.01")) 1000L
    else 300L

  // one extraction pass shared by all queries in a session — the FUSED
  // generate→extract path (single narrow stage, no intermediate Page
  // encoder round-trip; round 1 paid that round-trip here and q50 was the
  // most expensive bench entry). Held as a cached temp view in the
  // session's own catalog, keyed by page count.
  private def extracted(s: SparkSession, sfDir: String): DataFrame = {
    val view = s"graft_extracted_${pageCount(sfDir)}"
    if (!s.catalog.tableExists(view)) {
      graft.pipeline.ExtractStage.generateAndExtract(s, pageCount(sfDir), partitions = 32)
        .toDF().createOrReplaceTempView(view)
      s.catalog.cacheTable(view)
    }
    s.table(view)
  }

  // one committed output table (bucket(url) + days(warc_ts) hidden
  // partitioning) shared by the storage-layer queries q59-q61
  private def committedOut(s: SparkSession, sfDir: String): String =
    graft.Artifacts.dir(s, sfDir, "committed") { out =>
      val pages = graft.pipeline.ExtractStage.generatePages(s, pageCount(sfDir), partitions = 32)
      graft.pipeline.ExtractPipeline.run(s, pages, out,
        numBuckets = 16, snapshotGroups = 4, runId = "pq")
    }

  // a streaming-ingested + half-compacted table shared by q65: batch 0
  // committed and folded into compact v1, batch 1 committed but raw
  private def streamedOut(s: SparkSession, sfDir: String): String =
    graft.Artifacts.dir(s, sfDir, "streamed") { out =>
      import s.implicits._
      // micro-batches sliced by page INDEX range (a pure generator column,
      // no giant isin over urls); 1000 pages exercise the cycle fully
      val n = math.min(pageCount(sfDir), 1000L)
      def pagesRange(from: Long, until: Long) =
        s.range(from, until, 1L, 8).map(i =>
          graft.pipeline.PageGen.page(graft.pipeline.PageGen.DefaultSeed, i))
      graft.pipeline.StreamingIngest.commitBatch(out, numBuckets = 16)(
        pagesRange(0L, n / 2), 0L)
      graft.pipeline.StreamingIngest.compact(s, out, numBuckets = 16)
      graft.pipeline.StreamingIngest.commitBatch(out, numBuckets = 16)(
        pagesRange(n / 2, n), 1L)
    }

  // WARC segments written once per (session, sfDir) — the crawl-format
  // interchange surface q68 reads back through the streaming source
  private def warcOut(s: SparkSession, sfDir: String): String =
    graft.Artifacts.dir(s, sfDir, "warc") { out =>
      import s.implicits._
      val n = math.min(pageCount(sfDir), 1000L)
      val pages = s.range(0L, n, 1L, 4).map(i =>
        graft.pipeline.PageGen.page(graft.pipeline.PageGen.DefaultSeed, i))
      graft.pipeline.WarcWriter.write(s, pages, out)
    }

  // CDX index over the q68 WARC segments, built once per (session, sfDir)
  private def cdxOut(s: SparkSession, sfDir: String): String =
    graft.Artifacts.dir(s, sfDir, "cdx") { idx =>
      graft.pipeline.CdxIndex.build(s, warcOut(s, sfDir) + "/part-*", idx, shards = 4)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CDX indexing + random access (the Common Crawl index layout): the
    // q68 segments get sorted cdx shards + cluster.idx, then a point
    // lookup prunes to ONE shard and a seek(offset) fetches ONE gzip
    // member — the index stats and the fetched record's integrity in one
    // query (rows-only; byte fidelity + shard-order pinned in CdxSpec)
    "q82_cdx_lookup" -> ((s, dir) => {
      warcOut(s, dir) // segments exist before the index builds over them
      val idxDir = cdxOut(s, dir)
      val u = graft.pipeline.PageGen.url(graft.pipeline.PageGen.DefaultSeed, 7L)
      val hit = graft.pipeline.CdxIndex.lookup(s, idxDir, u)
        .select(col("filename"), col("offset"), col("length"), col("digest")).collect()
      val fetched = hit.headOption.flatMap { r =>
        graft.pipeline.CdxIndex.fetch(s.sparkContext.hadoopConfiguration,
          r.getString(0), r.getLong(1), r.getLong(2))
      }
      val digestOk = hit.headOption.exists { r =>
        fetched.exists(rec => graft.pipeline.CdxIndex.sha1Base32(rec.body) == r.getString(3))
      }
      graft.pipeline.CdxIndex.read(s, idxDir)
        .agg(count(lit(1)).as("n_entries"),
          countDistinct(col("urlkey")).as("n_urlkeys"),
          countDistinct(col("filename")).as("n_segments"))
        .withColumn("lookup_hits", lit(hit.length.toLong))
        .withColumn("fetched_bytes", lit(fetched.map(_.body.length.toLong).getOrElse(-1L)))
        .withColumn("digest_ok", lit(digestOk))
    }),

    // Outlink extraction over raw page bytes — the link-analysis input
    // (frontier expansion, host ranking, anchor indexing): every <a href>
    // resolved RFC-3986-absolutely (<base href>-aware), anchor text
    // flattened, rel=nofollow surfaced; one tokenizer pass per page, a
    // per-row flatMap with no shuffle before the aggregate (rows-only;
    // resolution/inertness/implied-close semantics pinned in LinkSpec)
    "q88_link_graph" -> ((s, dir) => {
      val pages = graft.pipeline.ExtractStage
        .generatePages(s, math.min(pageCount(dir), 1000L), partitions = 8).toDF()
      pages.select(col("url"),
          explode(graft.functions.GraftFunctions.outlinks(col("html"), col("url"))).as("l"))
        .agg(countDistinct(col("url")).as("n_pages"),
          count(lit(1)).as("n_links"),
          sum(when(col("l.nofollow"), 1L).otherwise(0L)).as("n_nofollow"),
          countDistinct(col("l.target")).as("n_targets"),
          sum(when(length(col("l.anchor")) > 0, 1L).otherwise(0L)).as("n_with_anchor"),
          sum(length(col("l.target"))).as("target_chars"))
    }),

    // Common-Crawl interchange: pages exported as per-record-gzip WARC
    // response segments, re-ingested through the streaming WarcSource, and
    // run through the extract core — the full crawl-format cycle in one
    // query (rows-only; byte-fidelity pinned in WarcSpec round-trips)
    "q68_warc_cycle" -> ((s, dir) => {
      val out = warcOut(s, dir)
      val pages = graft.pipeline.WarcSource.readPages(s, s"$out/part-*")
      graft.pipeline.ExtractStage.run(pages).toDF()
        .groupBy(col("success"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_urls"),
          sum(col("text_length")).as("total_text_len"))
        .orderBy(col("success"))
    }),

    // A4 — templates-used group-by (test_extraction.py:56-58 semantics)
    "q50_extract_patterns" -> ((s, dir) =>
      extracted(s, dir)
        .groupBy(col("success"), col("pattern_used"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("text_length")), 2).as("avg_text_len"),
          sum(col("n_products")).as("total_products"))),

    // P4 — explode products with invoice-header broadcast onto each row
    // (app.py:273-302: explode_outer reproduces the empty→one-row shape)
    "q51_extract_products" -> ((s, dir) =>
      extracted(s, dir)
        .select(col("url"), col("company_name"), col("invoice_number"),
          col("invoice_date"), explode_outer(col("products")).as("p"))
        .select(col("url"), col("company_name"), col("invoice_number"),
          col("invoice_date"), col("p.goods_description"), col("p.quantity"),
          col("p.weight"), col("p.weight_in_kg"), col("p.rate"), col("p.amount"))),

    // A5 — per-field mean confidence via map explode
    "q52_field_confidence" -> ((s, dir) =>
      extracted(s, dir)
        .select(explode(col("confidence")).as(Seq("field", "score")))
        .groupBy(col("field"))
        .agg(round(avg(col("score")), 4).as("avg_confidence"), count(lit(1)).as("n"))),

    // span generator: flatMap-shaped span emission + offset sanity profile
    "q53_extract_spans" -> ((s, dir) =>
      extracted(s, dir)
        .select(col("url"), col("text_length"), explode(col("spans")).as("sp"))
        .groupBy(col("sp.label").as("label"))
        .agg(count(lit(1)).as("n_spans"),
          round(avg(col("sp.end") - col("sp.start")), 2).as("avg_len"),
          max(col("sp.end")).as("max_end"))),

    // multimodal metadata: opaque binary payloads typed by magic sniff
    // (decode itself is the extract stage; this is the metadata surface)
    "q54_multimodal_meta" -> ((s, dir) => {
      val pages = graft.pipeline.ExtractStage.generatePages(s, pageCount(dir), partitions = 32).toDF()
      pages
        .withColumn("payload_kind",
          when(col("html").isNull || length(col("html")) === 0, "empty")
            .when(expr("substring(html, 1, 5) = cast('%PDF-' AS BINARY)"), "pdf")
            .otherwise("html"))
        .groupBy(col("payload_kind"), col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("html"))).as("total_bytes"),
          round(avg(length(col("html"))), 2).as("avg_bytes"))
    }),

    // host-skew profile: the salting driver (hot hosts found on a sample)
    "q55_host_skew" -> ((s, dir) => {
      val pages = graft.pipeline.ExtractStage.generatePages(s, pageCount(dir), partitions = 32).toDF()
      pages
        .withColumn("host", graft.pipeline.SkewTools.hostOf(col("url")))
        .groupBy(col("host")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("host").asc)
        .limit(10)
    }),

    // multimodal decode stage + feature-space KNN over the stub features
    "q56_multimodal_knn" -> ((s, dir) => {
      val pages = graft.pipeline.ExtractStage.generatePages(s, math.min(pageCount(dir), 500L), partitions = 16)
      graft.pipeline.Multimodal.featureKnn(
        graft.pipeline.Multimodal.decodeStage(pages).toDF(), k = 2)
    }),

    // F3/F4 as SQL functions over extracted text: table-region location +
    // byte-exact column profiling (the reference's structure-analysis ops)
    "q58_table_analysis" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      extracted(s, dir)
        .filter(col("success"))
        .withColumn("region", expr("locate_table(extracted_text)"))
        .withColumn("profile", expr("profile_columns(extracted_text)"))
        .groupBy((length(col("region")) > 0).as("has_table_region"),
          (length(col("profile")) > 0).as("has_column_profile"))
        .agg(count(lit(1)).as("n"),
          round(avg(length(col("region"))), 2).as("avg_region_len"),
          round(avg(length(col("profile"))), 2).as("avg_profile_len"))
    }),

    // S7 at the storage layer: point read over the COMMITTED output table —
    // the foldable bucket predicate prunes to exactly 1 of 16 bucket
    // partitions (asserted in PipelineSpec's pruning test)
    "q59_point_read_pruned" -> ((s, dir) => {
      val out = committedOut(s, dir)
      val u = graft.pipeline.PageGen.url(graft.pipeline.PageGen.DefaultSeed, 7L)
      graft.pipeline.ExtractPipeline.pointLookup(s, out, u, numBuckets = 16)
        .select(col("url"), col("part_bucket"), col("success"),
          col("invoice_number"), col("text_length"))
    }),

    // S7's combined lookup over the committed table: the exact probe (a
    // statically-pruned 1-bucket read) misses — ".html" stripped — so the
    // prefix fallback scans for startswith matches (app.py:451-456 shape;
    // the fallback half cannot bucket-prune under hash bucketing, see
    // ExtractPipeline.lookupWithPrefixFallback)
    "q63_prefix_fallback" -> ((s, dir) => {
      val out = committedOut(s, dir)
      val prefix = graft.pipeline.PageGen
        .url(graft.pipeline.PageGen.DefaultSeed, 7L).stripSuffix(".html")
      graft.pipeline.ExtractPipeline
        .lookupWithPrefixFallback(s, out, prefix, numBuckets = 16)
        .select(col("url"), col("success"), col("text_length"))
        .orderBy(col("url"))
    }),

    // streaming-ingested table through the maintenance cycle: two committed
    // micro-batches, batch 0 folded into compact v1, batch 1 still raw —
    // readAll must show every row exactly once across the fold boundary
    // (rows-only; exactness pinned in StreamingIngestSpec)
    "q65_stream_compacted" -> ((s, dir) => {
      val out = streamedOut(s, dir)
      graft.pipeline.StreamingIngest.readAll(s, out)
        .groupBy(col("ingest_batch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("success"), 1L).otherwise(0L)).as("n_ok"),
          countDistinct(col("part_bucket")).as("n_buckets"))
        .orderBy(col("ingest_batch"))
    }),

    // head metadata over raw page bytes: title / canonical / robots — the
    // site-declared dedup and indexing-consent signals a crawl pipeline
    // consults before any content hashing (rows-only; semantics pinned in
    // HeadMetaSpec)
    "q66_head_meta" -> ((s, dir) => {
      val pages = graft.pipeline.ExtractStage
        .generatePages(s, math.min(pageCount(dir), 1000L), partitions = 8).toDF()
      pages.select(graft.functions.GraftFunctions.headMeta(col("html")).as("hm"))
        .select(length(col("hm.title")).as("title_len"),
          col("hm.noindex").as("noindex"),
          col("hm.canonical").isNotNull.as("has_canonical"))
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("title_len") > 0, 1L).otherwise(0L)).as("n_with_title"),
          round(avg(col("title_len")), 2).as("avg_title_len"),
          sum(when(col("noindex"), 1L).otherwise(0L)).as("n_noindex"),
          sum(when(col("has_canonical"), 1L).otherwise(0L)).as("n_canonical"))
    }),

    // days(warc_ts) pruning: a 3-day window over the committed table reads
    // only the matching warc_day directories in each bucket
    "q60_day_range_pruned" -> ((s, dir) => {
      val out = committedOut(s, dir)
      graft.pipeline.ExtractPipeline.readDayRange(s, out, "2025-06-03", "2025-06-05")
        .groupBy(col("warc_day"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("success"), 1).otherwise(0)).cast("long").as("n_ok"),
          sum(col("n_products")).cast("long").as("n_products"))
        .orderBy(col("warc_day"))
    }),

    // the reference's /dashboard_stats (app.py:626-672) over the engine's
    // OWN metrics: per-snapshot doc counts, success rate, mean per-row ms,
    // and delta vs the previous snapshot via lag — W1 on the lineage table
    "q61_dashboard_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val out = committedOut(s, dir)
      val lin = s.read.json(s"$out/_manifest/manifest.jsonl")
        .select(col("run_id"), col("snapshot_id"), explode(col("lineage")).as("l"))
      val perSnap = lin.groupBy(col("snapshot_id"))
        .agg(sum(col("l.input_rows")).as("n_docs"),
          round(sum(col("l.ok_rows")) * 100.0 / sum(col("l.input_rows")), 2).as("success_rate"),
          round(sum(col("l.ms")) / sum(col("l.input_rows")), 3).as("avg_ms_per_doc"),
          sum(col("l.bytes_in")).as("bytes_in"))
      // ~4 snapshot rows: the single-partition window runs on aggregates
      val w = Window.orderBy(col("snapshot_id"))
      perSnap
        .withColumn("prev_docs", lag(col("n_docs"), 1).over(w))
        .withColumn("delta_docs", col("n_docs") - col("prev_docs"))
        .orderBy(col("snapshot_id"))
    }),

    // column-level extraction via the native Catalyst expression (the
    // Expression path, vs the mapPartitions path of q50-q53)
    "q57_extract_expression" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val pages = graft.pipeline.ExtractStage.generatePages(s, math.min(pageCount(dir), 500L), partitions = 16)
      pages.toDF()
        .select(col("url"),
          graft.functions.GraftFunctions.extract_main_content(col("html")).as("ex"))
        .select(col("url"), length(col("ex.text")).as("text_len"), size(col("ex.spans")).as("n_spans"))
        .groupBy()
        .agg(count(lit(1)).as("n"), sum(col("text_len")).as("total_chars"),
          sum(col("n_spans")).as("total_spans"))
    }))
}
