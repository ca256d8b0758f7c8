package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class CrawlPlannerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("crawl-planner-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("discover -> consent -> novelty -> politeness composes correctly") {
    import spark.implicits._
    // committed corpus: pages 0..99 of the standard generator
    val out = graft.TestDirs.create("graft-crawlplan").toString
    val committed = ExtractStage.generatePages(spark, 100, partitions = 4)
    ExtractPipeline.run(spark, committed, out, numBuckets = 8, snapshotGroups = 2, runId = "cp")
    val committedUrls = committed.toDF().select("url").as[String].collect().toSet

    // one synthetic site: its sitemap lists 40 committed urls (stale),
    // 30 fresh /new/ urls, and 30 fresh /private/ urls its robots blocks
    val host = graft.core.html.LinkExtractor.hostOf(PageGen.url(PageGen.DefaultSeed, 0L))
    val staleUrls = committedUrls.toSeq.sorted.take(40)
    val freshNew = (0 until 30).map(i => s"https://$host/new/p$i")
    val freshBlocked = (0 until 30).map(i => s"https://$host/private/p$i")
    val xml = "<urlset>" + (staleUrls ++ freshNew ++ freshBlocked)
      .map(u => s"<url><loc>$u</loc></url>").mkString + "</urlset>"
    val robots = "User-agent: *\nDisallow: /private/"
    val sites = Seq((host, xml, robots)).toDF("host", "sitemap_xml", "robots_txt")

    val (plan, stats) = CrawlPlanner.plan(spark, sites, out, perWave = 4)

    assert(stats.discovered == 100)
    assert(stats.blocked == 30, "robots must drop exactly the /private/ urls")
    assert(stats.alreadySeen == 40, "committed urls are not re-crawled")
    assert(stats.scheduled == 30)
    assert(stats.maxWaves == 8, "30 urls at 4 per wave = 8 waves") // ceil(30/4)

    val rows = plan.select($"url", $"wave").as[(String, Long)].collect()
    assert(rows.map(_._1).toSet == freshNew.toSet)
    // politeness: at most perWave urls in any (host, wave)
    val perWaveCounts = rows.groupBy(_._2).map(_._2.length)
    assert(perWaveCounts.forall(_ <= 4))
    assert(rows.map(_._2).max == 7)
    // deterministic: replanning yields the identical schedule
    val (plan2, stats2) = CrawlPlanner.plan(spark, sites, out, perWave = 4)
    assert(stats2 == stats)
    assert(plan2.select($"url", $"wave").as[(String, Long)].collect().sorted
      .sameElements(rows.sorted))
  }

  test("freshness re-crawl: stale captures re-enter the frontier, pass robots, skip novelty") {
    import spark.implicits._
    val out = graft.TestDirs.create("graft-recrawl-corpus").toString
    val warcDir = graft.TestDirs.create("graft-recrawl-warc").toString
    val idxDir = graft.TestDirs.create("graft-recrawl-idx").toString
    val host = "site.example"
    def page(u: String, ts: String) = Page(u, java.sql.Timestamp.valueOf(ts),
      s"<html><body>content of $u</body></html>".getBytes("UTF-8"), null, "en")

    // planted capture ages: 6 old urls (Jan 2024), 3 old urls under a path
    // robots NOW blocks, 4 recent urls — and old/p0 was RE-captured
    // recently, so its newest capture wins and it is not stale
    val oldPages = (0 until 6).map(i => page(s"https://$host/old/p$i", "2024-01-01 00:00:00"))
    val oldBlocked = (0 until 3).map(i => page(s"https://$host/private/p$i", "2024-01-01 00:00:00"))
    val freshPages = (0 until 4).map(i => page(s"https://$host/new/p$i", "2025-06-01 00:00:00"))
    val recapture = Seq(page(s"https://$host/old/p0", "2025-06-01 00:00:00"))
    val all = oldPages ++ oldBlocked ++ freshPages ++ recapture
    WarcWriter.write(spark, all.toDS(), warcDir)
    CdxIndex.build(spark, s"$warcDir/part-*", idxDir, shards = 2)

    val policies = Seq((host, 30)).toDF("host", "max_age_days")
    val stale = CrawlPlanner.staleUrls(spark, idxDir, policies, "2025-06-15 00:00:00")
    val staleSet = stale.select($"url").as[String].collect().toSet
    assert(staleSet ==
      (oldPages.drop(1).map(_.url) ++ oldBlocked.map(_.url)).toSet,
      s"stale set wrong: $staleSet")
    // a host with no age policy never re-crawls
    assert(CrawlPlanner.staleUrls(spark, idxDir,
      Seq(("other.example", 30)).toDF("host", "max_age_days"),
      "2025-06-15 00:00:00").count() == 0)

    // compose into the planner: the corpus holds every crawled url, the
    // sitemap discovers one genuinely new url, robots has since blocked
    // /private/ — so the schedule = the new url + the still-allowed stale
    // re-crawls, and novelty drops none of the re-crawls
    ExtractPipeline.run(spark, all.toDS(), out, numBuckets = 8,
      snapshotGroups = 2, runId = "rc")
    val sites = Seq((host,
      s"<urlset><url><loc>https://$host/new/x1</loc></url></urlset>",
      "User-agent: *\nDisallow: /private/")).toDF("host", "sitemap_xml", "robots_txt")
    // one re-crawl row for a host with NO sites row this cycle: it must be
    // counted as deferred (recrawlsNoSite), never silently dropped — and
    // new/x1 is ALSO in the recrawl set while absent from the corpus (an
    // indexed-but-never-committed capture): without the sitemap∩recrawl
    // anti-join it would be fetched twice (sitemap copy survives novelty,
    // recrawl copy bypasses it)
    val staleWithOrphan = stale.unionByName(
      Seq(("nosite.example", "https://nosite.example/a"),
        (host, s"https://$host/new/x1")).toDF("host", "url"))
    val (plan, stats) = CrawlPlanner.plan(spark, sites, out, perWave = 2,
      recrawl = Some(staleWithOrphan))
    assert(stats.discovered == 9) // x1 counted ONCE (recrawl identity wins)
    assert(stats.blocked == 3, "withdrawn consent must block stale re-crawls too")
    assert(stats.alreadySeen == 0)
    assert(stats.recrawls == 6) // 5 stale + x1
    assert(stats.recrawlsNoSite == 1)
    assert(stats.scheduled == 6)
    assert(stats.maxWaves == 3) // 6 urls, one host, 2 per wave
    val urls = plan.select($"url").as[String].collect().toSet
    assert(urls == oldPages.drop(1).map(_.url).toSet + s"https://$host/new/x1")
    assert(plan.filter($"url" === s"https://$host/new/x1").count() == 1,
      "a url in both the sitemap and the recrawl set must be scheduled exactly once")
  }

  test("rank-weighted waves: tier monotone in rank, per-wave capacity never exceeded") {
    import spark.implicits._
    // 4 hosts with strictly increasing rank; 10 frontier urls each
    val ranks = Seq(("a.com", 200000L), ("b.com", 400000L),
      ("c.com", 600000L), ("d.com", 800000L)).toDF("host", "rank_ppm")
    val frontier = (for (h <- Seq("a", "b", "c", "d"); i <- 0 until 10)
      yield (s"$h.com", f"https://$h.com/p$i%02d")).toDF("host", "url")
    val waved = CrawlPlanner.rankedWaves(frontier, ranks, baseQuota = 3, tiers = 4)
      .select($"host", $"url", $"tier", $"quota", $"wave")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4)))

    // quartiles land one host each, quota = tier × base
    val tiers = waved.groupBy(_._1).map { case (h, rs) => h -> rs.head._3 }
    assert(tiers == Map("a.com" -> 1, "b.com" -> 2, "c.com" -> 3, "d.com" -> 4))
    assert(waved.forall { case (_, _, t, q, _) => q == t * 3 })
    // politeness invariant: no host fetches more than its quota per wave
    waved.groupBy(t => (t._1, t._5)).foreach { case ((h, _), rs) =>
      assert(rs.size <= rs.head._4, s"$h exceeded its wave quota")
    }
    // budget effect: top tier (quota 12) drains 10 urls in one wave,
    // bottom tier (quota 3) needs ceil(10/3)=4
    val nWaves = waved.groupBy(_._1).map { case (h, rs) => h -> (rs.map(_._5).max + 1) }
    assert(nWaves == Map("a.com" -> 4L, "b.com" -> 2L, "c.com" -> 2L, "d.com" -> 1L))
    // determinism within a host: waves fill in url order
    val aWaves = waved.filter(_._1 == "a.com").sortBy(_._2).map(_._5).toSeq
    assert(aWaves == Seq(0L, 0L, 0L, 1L, 1L, 1L, 2L, 2L, 2L, 3L))

    // a frontier host with NO rank row (new host, not yet in the link
    // graph) schedules at the BOTTOM tier instead of vanishing
    val withNewHost = frontier.unionByName(
      Seq(("e.com", "https://e.com/p0"), ("e.com", "https://e.com/p1"))
        .toDF("host", "url"))
    val e = CrawlPlanner.rankedWaves(withNewHost, ranks, baseQuota = 3, tiers = 4)
      .filter($"host" === "e.com")
      .select($"tier", $"quota", $"wave").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(e.length == 2, "unranked host must not be dropped from the schedule")
    assert(e.forall { case (t, q, _) => t == 1 && q == 3 })
  }

  test("sitemap-lastmod freshness: strict compare, invalid/absent lastmods ignored, uncaptured urls excluded") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val entries = Seq(
      ("h.example", "https://h.example/changed", "2024-06-01"),
      ("h.example", "https://h.example/unchanged", "2024-01-01"),
      ("h.example", "https://h.example/equal", "2024-03-01"),
      ("h.example", "https://h.example/garbage", "not-a-date"),
      ("h.example", "https://h.example/nolastmod", null.asInstanceOf[String]),
      ("h.example", "https://h.example/nevercaptured", "2024-06-01"))
      .toDF("host", "url", "lastmod")
    val captures = Seq(
      ("h.example", "https://h.example/changed", ts("2024-03-01 00:00:00")),
      // an OLDER duplicate capture: the newest one must decide
      ("h.example", "https://h.example/changed", ts("2023-01-01 00:00:00")),
      ("h.example", "https://h.example/unchanged", ts("2024-03-01 00:00:00")),
      ("h.example", "https://h.example/equal", ts("2024-03-01 00:00:00")),
      ("h.example", "https://h.example/garbage", ts("2024-03-01 00:00:00")),
      ("h.example", "https://h.example/nolastmod", ts("2024-03-01 00:00:00")))
      .toDF("host", "url", "cap_ts")
    val out = CrawlPlanner.modifiedSince(entries, captures)
      .select($"url").as[String].collect().toSet
    assert(out == Set("https://h.example/changed"))
  }

  test("crawl-delay timing: per-host delays parsed from robots, defaults for absent hosts") {
    import spark.implicits._
    val sites = Seq(
      ("slow.example", "User-agent: *\nCrawl-delay: 10\nDisallow:"),
      ("frac.example", "User-agent: *\nCrawl-delay: 1.5"),
      ("plain.example", "User-agent: *\nDisallow:")).toDF("host", "robots_txt")
    val frontier = (for (h <- Seq("slow", "frac", "plain", "nosite"); i <- 0 until 5)
      yield (s"$h.example", f"https://$h.example/p$i")).toDF("host", "url")
    val sched = CrawlPlanner.delayedSchedule(frontier, sites, perWave = 2,
        defaultDelaySec = 3L)
      .select($"host", $"delay_s", $"wave", $"fetch_at_s").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byHost = sched.groupBy(_._1)
    // parsed delays: plain 10s, fractional rounds UP, no directive → default
    assert(byHost("slow.example").forall(_._2 == 10L))
    assert(byHost("frac.example").forall(_._2 == 2L))
    assert(byHost("plain.example").forall(_._2 == 3L))
    // a frontier host with no sites row schedules at the default delay
    // instead of silently vanishing
    assert(byHost.contains("nosite.example"))
    assert(byHost("nosite.example").forall(_._2 == 3L))
    // fetch time = wave × delay, per host independently
    assert(sched.forall { case (_, d, w, t) => t == w * d })
    assert(byHost("slow.example").map(_._3).max == 2L) // 5 urls, 2 per wave
  }

  test("robots sitemap discovery: file order kept, relative values dropped, null robots safe") {
    import spark.implicits._
    val sites = Seq(
      ("a.example", "User-agent: *\nDisallow: /x\n" +
        "Sitemap: https://a.example/s1.xml\n" +
        "SITEMAP: https://a.example/s2.xml # index\n" +
        "Sitemap: /relative.xml\n" +
        "Sitemap: ftp://a.example/nope.xml"),
      ("b.example", "User-agent: *\nDisallow:"),
      ("c.example", null.asInstanceOf[String])).toDF("host", "robots_txt")
    val out = CrawlPlanner.discoverSitemaps(sites)
      .select($"host", $"sitemap_url", $"pos").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // only the absolute http(s) urls survive, in file order (pos keeps the
    // PRE-filter index — the relative line still occupied slot 2)
    assert(out.toSet == Set(
      ("a.example", "https://a.example/s1.xml", 0L),
      ("a.example", "https://a.example/s2.xml", 1L)))
  }

  test("change-rate priority: transitions counted in time order, reverts count, <2 captures or zero span excluded") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val caps = Seq(
      // steady: 3 captures, no change → priority 0 (but PRESENT)
      ("h", "u/steady", ts("2024-01-01 00:00:00"), "A"),
      ("h", "u/steady", ts("2024-02-01 00:00:00"), "A"),
      ("h", "u/steady", ts("2024-03-01 00:00:00"), "A"),
      // revert: A→B→A is TWO changes — and rows arrive out of order, the
      // window must sort by cap_ts, not input order
      ("h", "u/revert", ts("2024-03-01 00:00:00"), "A"),
      ("h", "u/revert", ts("2024-01-01 00:00:00"), "A"),
      ("h", "u/revert", ts("2024-02-01 00:00:00"), "B"),
      // single capture: no estimable rate
      ("h", "u/once", ts("2024-02-15 00:00:00"), "Z"),
      // zero span: two captures at the same instant
      ("h", "u/burst", ts("2024-02-15 00:00:00"), "A"),
      ("h", "u/burst", ts("2024-02-15 00:00:00"), "B"))
      .toDF("host", "url", "cap_ts", "digest")
    val out = CrawlPlanner.changePriorities(caps,
        lit("2024-04-15 00:00:00").cast("timestamp"))
      .select($"url", $"n_changes", $"span_s", $"age_s", $"priority_ppm")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq("u/revert", "u/steady"))
    val revert = out.find(_._1 == "u/revert").get
    val steady = out.find(_._1 == "u/steady").get
    // span 60 days, age 45 days → priority = changes × 750000 exactly
    assert(steady == (("u/steady", 0L, 5184000L, 3888000L, 0L)))
    assert(revert == (("u/revert", 2L, 5184000L, 3888000L, 1500000L)))
  }
}
