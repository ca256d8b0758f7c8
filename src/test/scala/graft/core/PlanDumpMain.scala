package graft.core

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: `explain("formatted")` snapshots of representative
  * queries with the plan properties that matter at 100 TB.
  */
object PlanDumpMain {
  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.01"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val picks = Map(
      "q03_filter_pushdown" -> ("Predicate pushdown + column pruning",
        "Both predicates reach the parquet scan (PushedFilters) and only the 3 referenced columns are read (ReadSchema) — at 100 TB this is the difference between scanning terabytes and scanning the row groups that matter."),
      "q04_join_broadcast" -> ("Broadcast hash join",
        "The projected orders dim is broadcast (no shuffle of the fact side); lineitem keeps its scan partitioning end to end."),
      "q07_window_lag" -> ("Pre-aggregated window",
        "The month aggregate shrinks the data to ~80 rows BEFORE the single-partition window sort — the unavoidable Window.orderBy bottleneck operates on aggregate rows, not raw orders."),
      "q18_subquery_avg" -> ("Single-pass windowed subquery",
        "The segment average is a window over the ONE orders⋈customer join result — round 1 executed the join twice (13.3 s → 1.2 s at sf0.1)."),
      "q31_ngram_jaccard" -> ("LSH-gated pairwise Jaccard",
        "Exact pairwise similarity runs only on MinHash-band candidate pairs; pair generation is a hash join on (band_id, band_val) — bounded by real candidates, not O(n²) blocks."),
      "q32_minhash_lsh" -> ("MinHash+LSH banding",
        "Signature computation is a narrow projection over the scan — computed once, bands unpivoted by a stack() generator, so the corpus is scanned a single time (round 1 scanned it 8×); the only shuffles are the band-bucket aggregations."),
      "q35_knn_bucketed" -> ("Bucketed (IVF-style) ANN",
        "The candidate join is keyed on the coarse bucket (label), so pair generation is a hash join per bucket instead of a cross join — the scale path for ANN."),
      "q49_simhash_neardup" -> ("Native expression in the hot path",
        "The 48-bit SimHash signature is the codegen'd SimHash48 expression in a plain projection — one scalar pass per document where the SQL formulation needed explode-words → a 48-column conditional-sum aggregate (two extra shuffles)."),
      "q64_embedding_neardup" -> ("Bucket-gated cosine near-dup decision",
        "Candidate pairs come from a hash join on the coarse bucket (label) — never a CartesianProduct — and the exact cosine runs only on those candidates; the same discipline as q35/q48 applied to the keep/drop decision."),
      "q70_decontamination" -> ("Broadcast semi join for benchmark decontamination",
        "The held-out set's 13-gram table is tiny and explicitly broadcast, so the corpus-side gram stream is filtered by a BroadcastHashJoin LeftSemi in place — the corpus is never shuffled on gram values. At 100 TB the corpus side is the whole training set; shuffling it on 13-gram strings would dwarf every other stage."),
      "q75_pii_scrub" -> ("PII scrub is a join-free codegen'd projection",
        "All three redaction passes (email → IP → phone) plus their counts are one projection over the scan — no UDF, no join, no shuffle before the final aggregate. At 100 TB the scrub rides the same single pass every release-prep scan already makes (PlanCheckMain asserts the join-free shape)."),
      "q76_langid_ngram" -> ("Trained langid: profiles broadcast, corpus never reshuffled",
        "The per-lang trigram profile table is vocabulary-sized, so the score join is an explicit BroadcastHashJoin against the exploded corpus side; per-(doc, lang) scores partial-aggregate before the single shuffle. Training and scoring are the same two scans at any corpus size — the model is the small side by construction."),
      "q79_paragraph_dedup" -> ("Paragraph dedup: content-keyed hash join, no global order",
        "First-occurrence-wins is min(order-scalar) per paragraph hash plus a hash join back — the same shuffle-on-content-key shape as exact doc dedup, at paragraph granularity. No window, no sort: a global order-by here would serialize the corpus through one partition (PlanCheckMain asserts the window-free shape)."),
      "q80_lm_quality" -> ("LM quality: model and cutoffs broadcast, sort bounded to the sample",
        "The bigram LM is vocab-sized and broadcast into the corpus-side left join; per-doc scores partial-aggregate before their one shuffle. The only global sort (ntile) runs over the 5% SAMPLE that derives the two cutoffs — the corpus itself is bucketed by a constant-threshold projection through a 1-row broadcast, exactly how CCNet applies sample-derived perplexity thresholds as constants."),
      "q83_robots_decision" -> ("Robots decision is a join-free projection",
        "Parse + longest-match-precedence run per row inside one projection; the plan has no join and no shuffle before the per-host aggregate. In a real crawl the rules table is per-host and tiny — either way the corpus side is never reshuffled for consent checks."),
      "q87_substring_dedup" -> ("Exact substring dedup: content-keyed shuffle + per-doc windows",
        "The ExactSubstr formulation that distributes: duplicated-window anchors come from one hash agg + join on window content (the same shape as exact dedup), then span merging is islands-and-gaps inside PER-DOC windows — partitioned by doc_id, never global. A suffix array would be a single-machine structure; this plan's widest operation is the content-keyed exchange."),
      "q89_host_rank" -> ("PageRank iterations: host-cardinality joins only",
        "Each unrolled iteration joins the edge list against the rank and degree tables — all host-cardinality — and hash-aggregates contributions by destination. The corpus appears once (edge derivation); iterations never touch it again. At web scale the rank table is ~10^9 rows against ~10^12 docs — the iteration cost is decoupled from corpus size."),
      "q91_recrawl_age" -> ("Freshness re-crawl: index-sized max + broadcast policy join",
        "Newest-capture-per-url is one map-side-combined max over the CDX capture table (never the corpus), and the per-host max-age policy joins as a broadcast — the staleness decision costs O(index), so re-crawl planning runs as often as freshness demands without touching page bodies."),
      "q92_warc_revisit" -> ("Revisit decision: thin-key hash agg, bodies never shuffled for it",
        "Payloads are digested in a narrow codegen'd sha1 pass; the first-capture-per-digest decision aggregates only (digest, ts, url) and joins back — the page bodies stay in their scan partitions. At archive scale this is the difference between shuffling the crawl's bytes and shuffling three thin columns."),
      "q93_corpus_mix" -> ("Mixture sampling: rates broadcast, corpus never shuffled",
        "Stratum token totals come from one map-side-combined aggregation over a policy-sized key space; the rate table and the weight table both broadcast, and selection is a codegen'd md5-bucket filter. No exchange touches the corpus — the mixture of a 100 TB release costs one scan."),
      "q94_rank_budget" -> ("Rank-weighted waves: host-table windows, frontier broadcast-joined",
        "PageRank, ntile tiers and quotas all live on the HOST table (bounded); the frontier pays one broadcast join to pick up its quota plus per-host windows for wave assignment — partitioned by host, never a global frontier sort."),
      "q95_quality_centroid" -> ("Centroid classifier: one-agg training, 1-row broadcast model",
        "Training is a single map-side-combined aggregation (per-class feature sums + counts — a handful of longs); the model is a 1-row broadcast and scoring is a codegen'd projection through it. The corpus is never key-shuffled for either phase — the distributable shape of every linear quality-classifier gate, at ANY corpus size."),
      "q97_host_template" -> ("Template strip: two hash aggs + a content-keyed join back, no window",
        "Template detection is per-(host,para) and per-host distinct counts — both map-side combined — and the decision joins back on the (host, para) key; reassembly is sort_array inside a per-doc hash aggregate, so surviving text re-forms without any window or global sort. The widest operation is the content-keyed exchange, the same shape as paragraph dedup (q79) which this pass composes with."),
      "q98_epoch_mix" -> ("Epoch up-sampling: broadcast rates, explode multiplies rows not partitions",
        "Stratum totals and the grand total are policy-sized aggregates; rates and weights broadcast (PlanCheckMain asserts no SortMergeJoin reaches the corpus). The multi-epoch explode generates copies inside the scan partitions — row multiplication without a single extra exchange, which is what makes a 3-epoch source no more than 3× one scan at any corpus size."),
      "q99_bm25_topk" -> ("Inverted-index search: broadcast query terms, two-phase top-k",
        "Query terms and their df table broadcast into the postings scan, so only matching postings leave it; per-(query, doc) scores partial-aggregate before one shuffle. Top-k is two-phase — row_number inside 64 hash shards of each query's candidates, then a global rank over the ≤64k survivors — provably equal to the single-phase window while no task ever sorts a popular term's full candidate list."),
      "q100_unicode_nfc" -> ("NFC normalization: one codegen'd projection, no join",
        "The native NfcNormalize expression runs inside the scan's projection (WholeStageCodegen span), so normalize→hash→compare chains never leave generated code — the required pre-hash canonicalization costs zero extra passes at any corpus size."),
      "q101_crawl_delay" -> ("Crawl-delay timing: per-host broadcast + per-host windows",
        "Parsed delays live on the host table and broadcast into the frontier; wave assignment is a window PARTITIONED BY host — per-host timelines are independent by construction, so the schedule never sorts the global frontier."),
      "q102_bm25_indexed" -> ("Committed-index search: stored postings, stored lengths, manifest stats",
        "The scan side is the term-sorted parquet index (generations unioned behind the manifest; postings for one term cluster into few row groups via min/max pruning), doc lengths come from the stored l<g> tables, and corpus stats enter as a 1-row broadcast built from the manifest — compared with q99's inline shape, the whole-postings length re-aggregation is GONE from the plan (11 fewer operators), which is what makes query cost independent of index-building work."),
      "q103_sitemap_modified" -> ("Lastmod freshness: index-sized max + one keyed join",
        "Newest-capture-per-url is a map-side-combined max over the capture table; the lastmod parse is a projection over sitemap entries, and the strict comparison happens in one (host,url) hash join — freshness costs O(index + sitemap), page bodies never read."),
      "q104_cluster_canonical" -> ("Best-member selection: comp-keyed aggs + equality join back",
        "Keeping a cluster's longest member is per-comp max + an equality join back + per-comp min — three content-keyed hash operations, the exact shuffle shape q46's min-id policy already pays. No window, no argmax function whose tie semantics could diverge between engines."),
      "q106_change_priority" -> ("Change-rate estimation: per-url windows over the capture index",
        "Digest transitions come from lag() inside windows PARTITIONED by (host, url) — capture histories are tiny per url and never converge on one task — then one hash aggregate per url derives span/age/priority. The operator reads the capture INDEX only; at archive scale page bodies never enter the plan."),
      "q107_host_cap" -> ("Per-host cap: WindowGroupLimit pre-prunes before the shuffle",
        "The constant rank filter (rn <= 5) plans as WindowGroupLimit on BOTH sides of the exchange: each task keeps its local top-5 per host before any row moves, so the shuffle carries O(tasks × cap) rows per host no matter how large the host is — the property that makes a per-domain cap safe against boilerplate farms."),
      "q119_curation_funnel" -> ("Curation funnel: broadcast gates, one content-keyed dedup join",
        "Four gates in pipeline order share one corpus scan: blocklist verdicts join on the host key from a broadcast (distinct-host cardinality), percentile cutoffs ride a 1-row broadcast, quality is a codegen'd projection, and the only corpus-keyed shuffle is the md5 first-occurrence dedup among gate survivors — the report a release datasheet publishes, for the cost of the dedup the pipeline already runs."),
      "q116_pr_curve" -> ("PR sweep: corpus aggregates to distinct scores before the ordered window",
        "The threshold sweep's cumulative window orders at most 1001 rows — one per distinct ppk score — because the corpus hash-aggregates FIRST (the q07 discipline). At 100 TB the curve costs one scan plus a bounded window; the total-positives scalar rides a 1-row broadcast."),
      "q117_corpus_drift" -> ("Corpus drift: vocabulary-keyed join, both direction cuts TakeOrderedAndProject",
        "Both slices aggregate term counts in one pass (the slice indicator is a projection, not a split), the ratio join is vocabulary-sized, and each direction's top-10 plans as TakeOrderedAndProject — per-partition top-k plus driver merge, never a global sort of the vocabulary."),
      "q118_freq_spectrum" -> ("Frequency spectrum: integer log2 buckets, window over ≤64 rows",
        "floor(log2(f)) via length(bin(f))−1 keeps the bucketing integer-exact across engines; the cumulative-coverage window runs over at most 64 bucket rows. The only corpus-sized operation is the term-frequency aggregation every vocabulary decision already pays."),
      "q113_tfidf_keywords" -> ("tf-idf keywords: per-doc windows, corpus stats as a 1-row broadcast",
        "Document-frequency joins on the term key (vocabulary-sized), the corpus-count scalar rides a 1-row broadcast, and top-3-per-doc is a window PARTITIONED BY doc_id — thousands of tiny independent ranks, never a global sort. The deterministic output sample (doc_id % 97) pushes below the window without changing any rank."),
      "q114_pmi_collocations" -> ("PMI collocations: per-doc adjacency, top-k as TakeOrderedAndProject",
        "Bigrams come from lead() inside per-doc windows, both count tables are content-keyed hash aggregations, and the final top-15 plans as TakeOrderedAndProject — each partition keeps its local 15, the driver merges — so the collocation table is never globally sorted. Products ride decimal(38,0): a 10¹²-token corpus can't overflow the ppm arithmetic."),
      "q115_crawler_traps" -> ("Crawler traps: two hash aggregations, join-free",
        "Template concentration is countDistinct(path) per (host, template) followed by a per-host max — two content-keyed hash aggregations and nothing else. At archive scale this is the cheapest possible shape for frontier hygiene: no window, no join, the URL table is scanned once."),
      "q110_phrase_search" -> ("Phrase search: broadcast phrase terms, one positional scan, no self-join",
        "The phrase table broadcasts into a single positional-token scan — only tokens matching some phrase term survive — then anchor completion and occurrence counting are two content-keyed hash aggregations and ranking is the sharded two-phase top-k. The classic alternative (token-stream self-join per adjacency) never appears: adjacency is recovered arithmetically (pos − off) from one pass."),
      "q111_url_blocklist" -> ("Domain blocklist: broadcast rules, one id-keyed verdict aggregation",
        "Host suffixes explode bounded by label depth (≤5), the rule join is a broadcast LEFT outer (unmatched hosts keep a null-category row at specificity −1), and the most-specific-wins verdict is one max_by hash aggregation on the id — a single corpus-keyed shuffle decides every host against the full blocklist."),
      "q112_context_packing" -> ("Context packing: bucket-partitioned running sum, no global cumsum",
        "The concat-and-chunk running sum partitions BY BUCKET with an explicit ROWS frame, so per-task window state is bounded by the layout bucket, never the corpus — the q96 packing discipline applied to fixed-context sequence layout; everything after the window is one hash aggregate per bucket."),
      "q109_length_trim" -> ("Percentile trim: count-per-length aggregation state, 1-row broadcast cutoffs",
        "EXACT percentiles stay scale-safe because the aggregation state is count-per-distinct-length (bounded by the longest doc, not the corpus); the two cutoffs then enter as a 1-row broadcast and the trim is a codegen'd filter — a distribution-relative gate for the cost of one scan plus a scalar aggregate."),
      "q108_bm25_fielded" -> ("Fielded BM25: per-field scoring, candidate-sized combine",
        "Each field runs q99's scoring shape (terms and df broadcast into its postings scan, per-(qid, doc) partial aggregation); the cross-field combine is a (qid, doc)-keyed full-outer join over CANDIDATE sets — thousands of rows, not the corpus — and ranking stays the two-phase sharded top-k. Anchor evidence joins body evidence without ever re-scanning either index."),
      "q120_semdedup" -> ("SemDeDup: centroids broadcast, pairs keyed on the cluster id",
        "The Lloyd trainer's centroid table is C rows and broadcasts into the assignment scan; candidate pairs come from a self-join ON THE CLUSTER KEY, so pairwise cosine work is O(n · list-size), never all-pairs — at 100 TB k grows with the corpus to hold lists ~constant, and the pair join's one exchange is hashpartitioning(cluster). The drop decision is a plain aggregate over the scored pairs."),
      "q121_dsir_select" -> ("DSIR selection: 256-row rate tables broadcast, one scoring pass",
        "Both hashed-n-gram rate tables are exactly 256 rows by construction, so the per-token score join is a BroadcastHashJoin into the exploded corpus stream; per-doc importance weights partial-aggregate before their single shuffle and the top-N selection is TakeOrderedAndProject — the corpus is scored for resampling in one scan with no global sort."),
      "q122_countmin_hh" -> ("Count-Min sketch: 48-cell counters, map-side-combined and broadcast back",
        "The sketch build is one (row, bucket) hash aggregation whose state is 48 cells regardless of corpus size (cells merge by addition across partitions/shards — the mergeable-sketch property); the estimate probe joins those 48 rows back as a broadcast. The only corpus-sized operation is the token scan the true-count verification shares."),
      "q123_hll_distinct" -> ("HyperLogLog: register max-agg, 1-row fold, no corpus shuffle on the key",
        "Registers are a 64-group max aggregation — map-side combine reduces every partition to ≤64 cells before the one tiny exchange (registers merge by cell-wise MAX, the same shape approx_count_distinct uses) — and the estimate folds them in a second 1-row aggregate. The exact-distinct control beside it is the shape this replaces: a corpus-wide shuffle on the key."),
      "q124_pq_adc" -> ("IVF-PQ: codebooks and distance tables broadcast, the scan reads codes",
        "Both subquantizer codebooks are C-row broadcasts (the trainer's only cross shape); the per-query distance TABLES are (queries × C × m) rows and broadcast onto the corpus-side CODE table, so the search scan touches two small ints per vector — never the float vectors. At 100 TB this is the memory story IVF-flat lacks: 8-16 B codes replace 256 B+ floats, and ADC is two BroadcastHashJoins plus an addition. Ranking is per-query windows over candidate rows, bounded by the query batch."),
      "q125_quantile_sketch" -> ("Quantile sketch: ≤64-cell mergeable histogram, windows post-aggregation",
        "The histogram is one map-side-combinable hash aggregation into ≤64 fixed bins — built per source shard and merged cell-wise (the oracle's merge_ok pins merged ≡ direct-global, the mergeability that lets every shard sketch independently). Every window (cumulative bin counts, count-per-length exact control) runs AFTER aggregation over bounded tables; the corpus is scanned once and never sorted."))

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by PlanDumpMain)\n\n")
    sb.append("`explain(\"formatted\")` snapshots at sf0.01, AQE on. Regenerate:\n" +
      "`sbt \"Test/runMain graft.core.PlanDumpMain\"`.\n\n")

    graft.Queries.all.filter(q => picks.contains(q.name)).foreach { q =>
      val (title, why) = picks(q.name)
      val df = q.fn(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"## ${q.name} — $title\n\n$why\n\n")
      // keep the operator tree; from the verbose detail keep the scan
      // properties that prove pushdown/pruning
      val tree = formatted.split("\n\n").head
      val scanDetail = formatted.split("\n")
        .filter(l => l.contains("PushedFilters") || l.contains("ReadSchema"))
        .map(_.trim.take(160)).distinct
      sb.append("```\n").append(tree).append("\n")
      if (scanDetail.nonEmpty) sb.append("\n").append(scanDetail.mkString("\n")).append("\n")
      sb.append("```\n\n")
    }
    // q67's edge construction, dumped directly (the query's FINAL plan hides
    // behind the CC loop's checkpoint as an ExistingRDD scan — the plan that
    // matters for scale is how keys become edges before any iteration)
    locally {
      import org.apache.spark.sql.functions._
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("canon", when(pmod(col("doc_id"), lit(37)) < 3,
          concat(lit("https://site.example/c"), expr("doc_id div 37"))))
      val df = graft.pipeline.Dedup.starEdges(
        graft.pipeline.Dedup.bandKeys(corpus, "doc_id", "text", Some("canon")))
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append("## q67_canonical_dedup (edge construction) — canonical + content keys in ONE components pass\n\n")
      sb.append("The site-declared canonical key is unioned into the same (id, band) key table as the content LSH bands, so canonical groups and content near-dups merge through one hub-edge build and one fixpoint — no second clustering pass, no join between two label tables. The hub aggregation + star join keep edges O(k) per bucket. (The final labels come from the iterative CC fixpoint, whose plan is checkpoint-truncated by design; this dump shows the one-pass key/edge construction feeding it.)\n\n")
      sb.append("```\n").append(formatted.split("\n\n").head).append("\n```\n\n")
    }

    // the incremental-curation INDEX PROBE (round 4): how a new batch's
    // band keys select only the collided slice of the stored index before
    // the contracted components pass
    locally {
      import org.apache.spark.sql.functions._
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("url", concat(lit("doc://"), col("doc_id")))
        .withColumn("warc_ts", lit("2024-03-15 12:00:00").cast("timestamp"))
      val curDir = graft.TestDirs.create("graft-plandump-cur").toString
      graft.pipeline.CuratedPipeline.run(spark,
        corpus.filter(pmod(col("doc_id"), lit(2)) === 1), curDir,
        idCol = "doc_id", textCol = "text", numBuckets = 8,
        snapshotGroups = 1, runId = "pd")
      val newKeys = graft.pipeline.Dedup.bandKeys(
        corpus.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", None)
      val storedKeys = spark.read.parquet(s"$curDir/index/bands")
        .select(col("id"), col("band"))
      val probe = storedKeys
        .join(newKeys.select(col("band")).distinct(), Seq("band"), "left_semi")
        .join(graft.pipeline.CuratedPipeline.readLabels(spark, curDir), Seq("id"))
        .select(col("comp").as("id"), col("band")).distinct()
      val formatted = probe.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append("## curateIncrement (index probe) — new batch vs stored band-key index\n\n")
      sb.append("The semi join on the batch's DISTINCT bands is the index lookup: stored keys on non-collided bands never flow past it, and the surviving slice contracts to (component label, band) vertices for the components pass. Work is O(batch + collisions) — the stored index is scanned but never reshuffled on anything wider than the collided band set, which is what lets a continuous pipeline curate daily batches against a 100 TB corpus without re-clustering it (q74 proves the result equals the full recompute).\n\n")
      sb.append("```\n").append(formatted.split("\n\n").head).append("\n```\n\n")
    }

    // storage-layer pruning over the committed (bucket(url), days(warc_ts))
    // table: point read prunes to one bucket; day range prunes to its days
    val out = graft.TestDirs.create("graft-plandump").toString
    val pages = graft.pipeline.ExtractStage.generatePages(spark, 400, partitions = 8)
    graft.pipeline.ExtractPipeline.run(spark, pages, out, numBuckets = 16,
      snapshotGroups = 2, runId = "plandump")
    val u = graft.pipeline.PageGen.url(graft.pipeline.PageGen.DefaultSeed, 7L)
    val storagePicks = Seq(
      ("q59_point_read_pruned", "Static partition pruning: point read",
        "The bucket predicate pmod(xxhash64(<url literal>), 16) is foldable, so Catalyst constant-folds it and the scan's PartitionFilters select exactly ONE of 16 bucket directories — the storage analog of the reference's filename-prefix point lookup.",
        graft.pipeline.ExtractPipeline.pointLookup(spark, out, u, numBuckets = 16)),
      ("q60_day_range_pruned", "Static partition pruning: days(warc_ts) range",
        "A 3-day window on the hidden warc_day partition reads only the matching day directories inside each bucket — the most common crawl-corpus predicate never scans the full table.",
        graft.pipeline.ExtractPipeline.readDayRange(spark, out, "2025-06-03", "2025-06-05")),
      ("q63_prefix_fallback", "Prefix fallback cannot bucket-prune (hash-bucket asymmetry)",
        "The exact probe (q59's 1-bucket plan) missed, so this is the fallback plan: the StringStartsWith predicate is pushed to the scan but there is NO part_bucket PartitionFilter — pmod(xxhash64(url)) has no prefix locality, so the prefix half necessarily reads every bucket. Probing exact-first keeps the common case a one-bucket read; an Iceberg truncate(url) transform would invert the trade.",
        graft.pipeline.ExtractPipeline.lookupWithPrefixFallback(spark, out,
          u.stripSuffix(".html"), numBuckets = 16)))
    storagePicks.foreach { case (name, title, why, df) =>
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"## $name — $title\n\n$why\n\n")
      val tree = formatted.split("\n\n").head
      val detail = formatted.split("\n")
        .filter(l => l.contains("PushedFilters") || l.contains("ReadSchema")
          || l.contains("PartitionFilters"))
        .map(_.trim.take(200)).distinct
      sb.append("```\n").append(tree).append("\n")
      if (detail.nonEmpty) sb.append("\n").append(detail.mkString("\n")).append("\n")
      sb.append("```\n\n")
    }

    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("[plandump] wrote PLANS.md")
    spark.stop()
  }
}
