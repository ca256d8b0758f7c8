package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The crawl-side composition: what should the NEXT fetch wave contain?
  *
  *   discover   — sitemap entries per host ([[graft.core.html.SitemapXml]])
  *                ∪ freshness RE-CRAWLS: urls whose newest CDX capture is
  *                older than the host's max-age policy ([[staleCaptures]])
  *   consent    — robots.txt longest-match decisions (RFC 9309,
  *                [[graft.core.html.RobotsTxt]]) — applied to re-crawls
  *                too: consent can be withdrawn between captures
  *   novelty    — drop urls the committed corpus already holds
  *                ([[SeenUrls]]: Bloom-routed, anti-join-confirmed);
  *                re-crawl rows BYPASS this stage — being already-seen is
  *                their point
  *   politeness — per-host waves, at most `perWave` fetches per host per
  *                wave (window partitioned BY HOST — per-host state never
  *                converges on one task)
  *
  * Each stage is the operator its oracled query pins (q85/q83/q84/q86/
  * q91); this object is their production composition, the same way
  * CuratedPipeline composes the corpus-side operators. Scale shape: the
  * per-host tables (sitemap xml, robots txt, age policies) are broadcast;
  * the corpus-sized stages are the seen-set confirmation (fpp-routed,
  * optionally CDX point probes) and the newest-capture aggregation (one
  * map-side-combined max per url over the index, never the corpus).
  */
object CrawlPlanner {

  final case class PlanStats(
      discovered: Long, blocked: Long, alreadySeen: Long,
      scheduled: Long, maxWaves: Long, recrawls: Long,
      // re-crawl rows whose host has no row in `sites` this cycle (no
      // current robots to consent against) — deferred, NOT silently lost:
      // without this count a freshness backlog for an unsitemapped host
      // would vanish from every other stat
      recrawlsNoSite: Long = 0L)

  /** The freshness rule, factored so q91 oracles the exact operator the
    * planner runs: urls whose NEWEST capture is at least `max_age_days`
    * old at `asOf` re-enter the frontier. One hash aggregation on the url
    * (map-side-combined max) + a broadcast policy join; the comparison is
    * integer epoch-seconds, so an independent engine pins it bit-exactly.
    *
    * @param captures (host, url, cap_ts: timestamp) — every known capture
    * @param policies (host, max_age_days: int) — hosts absent from the
    *                 policy table are never re-crawled
    * @return (host, url) stale set
    */
  def staleCaptures(captures: DataFrame, policies: DataFrame, asOf: Column): DataFrame =
    captures
      .groupBy(col("host"), col("url"))
      .agg(max(unix_timestamp(col("cap_ts"))).as("newest_s"))
      .join(broadcast(policies), Seq("host"))
      .filter(col("newest_s") + col("max_age_days").cast("long") * 86400L
        <= unix_timestamp(asOf))
      .select(col("host"), col("url"))

  /** [[staleCaptures]] over a committed CDX index: newest capture per url
    * from the index's 14-digit timestamps. Reads the INDEX (one line per
    * capture), never the corpus — the `cdx` + `cluster.idx` files exist
    * for exactly this freshness query.
    */
  def staleUrls(spark: SparkSession, idxDir: String, policies: DataFrame,
      asOf: String): DataFrame = {
    val caps = CdxIndex.read(spark, idxDir).select(
      SkewTools.hostOf(col("url")).as("host"),
      col("url"),
      to_timestamp(col("ts"), "yyyyMMddHHmmss").as("cap_ts"))
    staleCaptures(caps, policies, to_timestamp(lit(asOf)))
  }

  /** @param sites    one row per host: (host, sitemap_xml, robots_txt)
    * @param corpusDir committed extract table (the seen-set source)
    * @param perWave  politeness budget: fetches per host per wave
    * @param recrawl  (host, url) rows to fetch AGAIN — [[staleUrls]]
    *                 output; they pass consent but skip the novelty stage
    * @param cdxDir   routes the seen-set confirmation through CDX point
    *                 probes ([[SeenUrls.filterNew]])
    * @return (plan, stats) — plan rows: (host, url, wave)
    */
  def plan(spark: SparkSession, sites: DataFrame, corpusDir: String,
      perWave: Int = 3, recrawl: Option[DataFrame] = None,
      cdxDir: Option[String] = None): (DataFrame, PlanStats) = {
    import graft.functions.GraftFunctions

    // discover: every sitemap entry keyed back to its host, ∪ the
    // freshness re-crawls (flagged — they bypass novelty below). Re-crawl
    // rows re-join the sites table for the host's CURRENT robots rules.
    val sitemapped = sites
      .select(col("host"), col("robots_txt"),
        explode(GraftFunctions.sitemapEntries(col("sitemap_xml"))).as("e"))
      .select(col("host"), col("robots_txt"), col("e.loc").as("url"),
        lit(false).as("__recrawl"))
    val (discovered, nRecrawlNoSite, recrawlPin) = recrawl match {
      case None => (sitemapped, 0L, None)
      case Some(r) =>
        // LEFT join: a re-crawl for a host with no sites row this cycle has
        // no current robots to consent against — it is DEFERRED (counted in
        // recrawlsNoSite), never silently dropped by an inner join
        val joined = r.select(col("host"), col("url"))
          .join(broadcast(sites.select(col("host"), col("robots_txt"))), Seq("host"), "left")
          .persist()
        val noSite = joined.filter(col("robots_txt").isNull).count()
        // a url can be BOTH sitemapped and stale (in the recrawl set) yet
        // absent from the seen-set (its capture was indexed but never
        // committed to the extract table): without this anti-join the
        // sitemap copy survives novelty while the recrawl copy bypasses
        // it, and the frontier fetches the url twice
        val sitemappedFresh = sitemapped.join(
          r.select(col("host"), col("url")), Seq("host", "url"), "left_anti")
        val d = sitemappedFresh.unionByName(
          joined.filter(col("robots_txt").isNotNull)
            .select(col("host"), col("robots_txt"), col("url"), lit(true).as("__recrawl")))
        (d, noSite, Some(joined))
    }

    // consent: path-part of the url against the host's robots rules.
    // Persisted: every stat and the downstream stages read this frame,
    // and without the pin each action would re-run sitemap parse +
    // robots decisions from the scan (the corpus-sized seen-set work
    // would rerun too, via `fresh` below).
    val path = regexp_replace(col("url"), "^[a-z][a-z0-9+.-]*://[^/]*", "")
    val consented = discovered
      .withColumn("__path", when(length(path) === 0, "/").otherwise(path))
      .withColumn("__allowed", GraftFunctions.robotsAllowed(col("robots_txt"), col("__path")))
      .persist()
    val nDiscovered = consented.count()
    // only NOW release the recrawl⋈sites pin — consented is materialized
    // above, so the recrawl scan never re-runs (unpersisting before this
    // count would discard the cache exactly one read too early)
    recrawlPin.foreach(_.unpersist())
    val allowed = consented.filter(col("__allowed"))
      .select(col("host"), col("url"), col("__recrawl"))
    val nAllowed = allowed.count()

    // novelty: Bloom-routed frontier check against the committed corpus —
    // the only corpus-sized stage; persisted so the schedule and the
    // stats pay it once. Re-crawl rows bypass it by construction.
    val novel = SeenUrls.filterNew(spark, corpusDir,
      allowed.filter(!col("__recrawl")).select(col("host"), col("url")),
      cdxDir = cdxDir).persist()
    val nFresh = novel.count()
    val nRecrawl = allowed.filter(col("__recrawl")).count()
    val frontier = novel.unionByName(
      allowed.filter(col("__recrawl")).select(col("host"), col("url")))

    // politeness: rank within host (url tie-break = determinism), cap
    // perWave fetches per host per wave
    val w = Window.partitionBy(col("host")).orderBy(col("url"))
    val planned = frontier
      .withColumn("__rn", row_number().over(w))
      .withColumn("wave", expr(s"(__rn - 1) div $perWave"))
      .drop("__rn")
      // materialize the schedule so BOTH pinned inputs can be released
      // before returning — without this, repeated plan() calls accumulate
      // cached partitions until executor storage evicts them
      .transform(Pin(_))
    val maxWaves = planned.agg(coalesce(max(col("wave")), lit(-1L))).head().getLong(0) + 1
    consented.unpersist()
    novel.unpersist()

    (planned, PlanStats(nDiscovered, nDiscovered - nAllowed,
      nAllowed - nRecrawl - nFresh, nFresh + nRecrawl, maxWaves, nRecrawl,
      recrawlsNoSite = nRecrawlNoSite))
  }

  /** Sitemap-lastmod freshness — the OTHER re-crawl signal besides age
    * ([[staleCaptures]]): entries whose declared `lastmod` is STRICTLY
    * newer than the url's newest capture, i.e. the SITE says the content
    * changed since we fetched it. Urls never captured are novelty's
    * business, not freshness (inner join on the capture table keeps this
    * operator's contract disjoint from [[SeenUrls]]). Both W3C forms
    * parse (date, datetime with offset); unparseable values are ignored
    * (`try_to_timestamp` — crawled metadata never crashes the planner).
    * Feed the result to [[plan]]'s `recrawl` input, exactly like
    * [[staleUrls]] output.
    *
    * @param entries  (host, url, lastmod: string) — sitemap entries
    * @param captures (host, url, cap_ts: timestamp) — known captures
    * @return entry rows (all columns preserved) needing a re-fetch
    */
  def modifiedSince(entries: DataFrame, captures: DataFrame): DataFrame = {
    val newest = captures.groupBy(col("host"), col("url"))
      .agg(max(unix_timestamp(col("cap_ts"))).as("__newest_s"))
    val lm = coalesce(
      expr("try_to_timestamp(lastmod, \"yyyy-MM-dd'T'HH:mm:ssXXX\")"),
      expr("try_to_timestamp(lastmod, 'yyyy-MM-dd')"))
    entries.filter(col("lastmod").isNotNull)
      .withColumn("__lm_s", unix_timestamp(lm))
      .filter(col("__lm_s").isNotNull)
      .join(newest, Seq("host", "url"))
      .filter(col("__lm_s") > col("__newest_s"))
      .drop("__lm_s", "__newest_s")
  }

  /** Sitemap DISCOVERY from robots.txt — where the sitemap urls in
    * [[plan]]'s `sites` input come from in a real crawl: `Sitemap:` lines
    * are group-independent (sitemaps.org protocol; RFC 9309 lists them as
    * an "other record" passed through verbatim), so every line in the
    * file counts, comment-stripped, in file order. Only absolute http(s)
    * targets survive — a relative value has no fetchable meaning and is
    * dropped rather than guessed at. Scale shape: one projection + explode
    * over the per-host robots table (host-cardinality, never the corpus).
    *
    * @param sites (host, robots_txt) rows
    * @return (host, sitemap_url, pos) — pos is the 0-based file order
    */
  def discoverSitemaps(sites: DataFrame): DataFrame =
    sites.select(col("host"),
        posexplode(graft.functions.GraftFunctions.robotsSitemaps(col("robots_txt")))
          .as(Seq("pos", "sitemap_url")))
      .filter(col("sitemap_url").startsWith("http://") ||
        col("sitemap_url").startsWith("https://"))
      .select(col("host"), col("sitemap_url"), col("pos").cast("long").as("pos"))

  /** Change-rate re-crawl PRIORITY — the third freshness signal, after
    * age ([[staleCaptures]]) and declared lastmod ([[modifiedSince]]):
    * estimate each url's change rate from its own capture HISTORY (Cho &
    * Garcia-Molina's frequency estimation, the integer-exact flavor) and
    * rank by expected missed changes. Per url:
    *
    *   changes  = number of digest transitions between consecutive captures
    *   span_s   = newest capture − oldest capture (the observation window)
    *   age_s    = asOf − newest capture
    *   priority_ppm = 10⁶ × changes × age_s / span_s
    *
    * i.e. (changes/span = rate) × age = E[changes missed since last
    * fetch], scaled to ppm so engines agree bit-for-bit. Urls with fewer
    * than 2 captures (or zero span) carry no estimate and are EXCLUDED —
    * single-capture freshness is the age policy's business, never-captured
    * urls are novelty's (the disjoint-contract discipline of
    * [[modifiedSince]]). A null digest (a capture without a checksum)
    * never counts as a transition on either side of itself — missing
    * evidence is not change evidence. Feed the output to [[rankedWaves]]
    * as the rank signal, or threshold it into [[plan]]'s `recrawl` set. Scale shape: one per-url sort-free aggregation
    * pass over the capture INDEX (digest transitions via a per-url
    * window, partitioned — never global), corpus bodies never read.
    * Products ride decimal(38,0): changes × age_s × 10⁶ exceeds Long for
    * decade-old captures at ppm scale.
    *
    * @param captures (host, url, cap_ts: timestamp, digest) capture history
    * @param asOf     the evaluation instant
    * @return (host, url, n_captures, n_changes, span_s, age_s, priority_ppm)
    */
  def changePriorities(captures: DataFrame, asOf: Column): DataFrame = {
    val w = Window.partitionBy(col("host"), col("url")).orderBy(col("cap_ts"))
    captures
      .withColumn("__prev", lag(col("digest"), 1).over(w))
      .groupBy(col("host"), col("url"))
      .agg(
        count(lit(1)).as("n_captures"),
        sum(when(col("__prev").isNotNull && col("__prev") =!= col("digest"), 1L)
          .otherwise(0L)).as("n_changes"),
        (max(unix_timestamp(col("cap_ts"))) - min(unix_timestamp(col("cap_ts"))))
          .as("span_s"),
        (unix_timestamp(asOf) - max(unix_timestamp(col("cap_ts")))).as("age_s"))
      .filter(col("n_captures") >= 2 && col("span_s") > 0)
      .withColumn("priority_ppm", expr(
        "cast((cast(n_changes AS decimal(38,0)) * 1000000 * age_s) div span_s AS bigint)"))
  }

  /** Politeness TIMING: waves become fetch TIMES using each host's robots
    * `Crawl-delay` (the de-facto extension parsed by
    * [[graft.core.html.RobotsTxt.crawlDelay]]; hosts that declare none
    * use `defaultDelaySec`). Wave w of a host fetches at `w × delay`
    * seconds into the cycle, so a slow host's schedule stretches without
    * holding any other host back — per-host timelines are independent by
    * construction. Scale shape: delays live on the host table (broadcast);
    * the frontier pays one per-host window, the [[plan]] discipline.
    *
    * @param frontier (host, url) rows to schedule
    * @param sites    (host, robots_txt) — the per-host robots bodies
    * @return frontier plus (delay_s, wave, fetch_at_s)
    */
  def delayedSchedule(frontier: DataFrame, sites: DataFrame,
      perWave: Int = 3, defaultDelaySec: Long = 1L,
      agent: String = "*"): DataFrame = {
    val delayUdf = udf((txt: String) =>
      if (txt == null) None
      else graft.core.html.RobotsTxt.crawlDelay(txt, agent))
    val delays = sites.select(col("host"),
      coalesce(delayUdf(col("robots_txt")), lit(defaultDelaySec))
        .cast("long").as("delay_s"))
    val w = Window.partitionBy(col("host")).orderBy(col("url"))
    // LEFT join + default: a frontier host with no sites row this cycle
    // schedules at the default delay instead of silently vanishing (the
    // deferred-not-dropped discipline plan() follows)
    frontier.join(broadcast(delays), Seq("host"), "left")
      .withColumn("delay_s", coalesce(col("delay_s"), lit(defaultDelaySec)))
      .withColumn("__rn", row_number().over(w))
      .withColumn("wave", expr(s"cast((__rn - 1) div $perWave AS bigint)"))
      .withColumn("fetch_at_s", col("wave") * col("delay_s"))
      .drop("__rn")
  }

  /** Rank-weighted politeness: per-host wave CAPACITY scales with the
    * host's PageRank tier, so high-authority hosts drain their frontier
    * in fewer waves — how production crawlers allocate budget
    * (OPIC/PageRank-ordered scheduling) without ever exceeding a host's
    * politeness cap. Hosts are split into `tiers` quartiles by rank
    * (ntile over the HOST table — host-cardinality, bounded, never the
    * frontier; the same bounded-window discipline as q80's cutoff
    * sample), and a tier-t host fetches `t × baseQuota` urls per wave.
    *
    * @param frontier (host, url) rows to schedule
    * @param hostRanks (host, rank_ppm), e.g. [[HostRank.ranks]] output
    * @return frontier plus (tier, quota, wave)
    */
  def rankedWaves(frontier: DataFrame, hostRanks: DataFrame,
      baseQuota: Int, tiers: Int = 4): DataFrame = {
    val byRank = Window.orderBy(col("rank_ppm"), col("host"))
    val tiered = hostRanks
      .withColumn("tier", ntile(tiers).over(byRank))
      .withColumn("quota", (col("tier") * baseQuota).cast("int"))
      .select(col("host"), col("tier"), col("quota"))
    val perHost = Window.partitionBy(col("host")).orderBy(col("url"))
    // LEFT join + bottom tier: a host with no rank row (new host, not yet
    // in the link graph) gets the MINIMUM budget instead of being dropped
    // from the schedule — the same silent-loss class plan() counts as
    // recrawlsNoSite
    frontier.join(broadcast(tiered), Seq("host"), "left")
      .withColumn("tier", coalesce(col("tier"), lit(1)))
      .withColumn("quota", coalesce(col("quota"), lit(baseQuota)))
      .withColumn("__rn", row_number().over(perHost))
      .withColumn("wave", expr("cast((__rn - 1) div quota AS bigint)"))
      .drop("__rn")
  }
}
