package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.crawl._
import graft.schema.{FetchStatus => FS}

/** End-to-end crawl over a mocked web graph, asserting the same facts as the
  * reference's flagship test (src/test/java/…/topology/CrawlTopologyTest
  * .java:150-307 testBroadCrawl): robots-blocked pages are never fetched,
  * 404s are recorded, sitemap URLs are discovered and crawled, redirects
  * surface their targets, and every reachable page ends FETCHED.
  */
class CrawlTopologySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val graph = WebGraph(
    "domain1.com" -> Seq(
      "domain1.com/page1", "domain1.com/page2",
      "domain1.com/blocked", "domain1.com/short"),
    "domain1.com/page1" -> Seq.empty,
    "domain1.com/page2" -> Seq("domain2.com", "domain1.com", "domain1.com/page1"),
    "domain1.com/blocked" -> Seq.empty,
    "domain1.com/rtarget" -> Seq.empty,
    "domain1.com/sitemapped" -> Seq.empty,
    "domain2.com" -> Seq("domain2.com/page1"),
    "domain2.com/page1" -> Seq("domain2.com/missing"))

  private val sitemapUrl = "http://domain1.com/sitemap.xml"
  private val sitemapBody =
    """<?xml version="1.0"?><urlset>
      |<url><loc>http://domain1.com/sitemapped</loc></url>
      |</urlset>""".stripMargin

  private val pageFetcher: Fetcher = {
    val base = new WebGraphFetcher(
      graph,
      redirects = Map("http://domain1.com/short" -> "http://domain1.com/rtarget"))
    val smUrl = sitemapUrl
    val smBody = sitemapBody
    new Fetcher {
      override def fetch(url: String): FetchedPage =
        if (url == smUrl) FetchedPage(200, smBody, "application/xml")
        else base.fetch(url)
    }
  }

  private val robotsFetcher = new MapRobotsFetcher(Map(
    "http://domain1.com/robots.txt" ->
      s"""User-agent: *
         |Disallow: /blocked
         |Sitemap: $sitemapUrl
         |""".stripMargin,
    // domain2 declares a sitemap that 404s (L7 failed-sitemap handling)
    "http://domain2.com/robots.txt" ->
      """User-agent: *
        |Sitemap: http://domain2.com/no-such-sitemap.xml
        |""".stripMargin))

  private lazy val result = CrawlTopology.run(
    spark,
    seeds = Seq(("domain1.com", 1.0f)),
    pageFetcher = pageFetcher,
    robotsFetcher = robotsFetcher,
    cfg = CrawlConfig(maxRounds = 30))

  private def statusOf(url: String): Seq[String] =
    result.frontier.filter(col("url") === url)
      .select("status").collect().map(_.getString(0)).toSeq

  test("crawl terminates before the round cap") {
    assert(result.rounds < 30)
  }

  test("robots-blocked page is skipped and never fetched") {
    assert(statusOf("http://domain1.com/blocked") == Seq(FS.SKIPPED_BLOCKED))
    val fetchedBlocked = result.journal
      .filter(col("stage") === "fetch" && col("url") === "http://domain1.com/blocked")
      .count()
    assert(fetchedBlocked == 0)
  }

  test("missing page is recorded as HTTP_NOTFOUND") {
    assert(statusOf("http://domain2.com/missing") == Seq(FS.HTTP_NOTFOUND))
  }

  test("sitemap URL is discovered and crawled") {
    assert(statusOf("http://domain1.com/sitemapped") == Seq(FS.FETCHED))
  }

  test("observe() gauges record per-round queue depth (G5)") {
    val depths = result.gauges.collect { case (r, "urls_in_queue", v) => r -> v }
    assert(depths.nonEmpty, "every scheduling round must record a gauge")
    assert(result.maxQueueDepth >= 2,
      s"two domains schedule in one round: ${depths.mkString(",")}")
    assert(depths.forall(_._2 <= 30), "depth bounded by maxQueueSize")
  }

  test("failed sitemap fetch is journaled, not silently dropped (L7)") {
    val failed = result.journal
      .filter(col("stage") === "sitemap_failed")
      .select("url", "status").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(failed.contains(
      ("http://domain2.com/no-such-sitemap.xml", FS.HTTP_NOTFOUND)))
    // the failure never enters the frontier as a crawlable URL
    assert(statusOf("http://domain2.com/no-such-sitemap.xml").isEmpty)
  }

  test("redirect records HTTP_MOVED and target gets fetched") {
    assert(statusOf("http://domain1.com/short") == Seq(FS.HTTP_MOVED))
    assert(statusOf("http://domain1.com/rtarget") == Seq(FS.FETCHED))
  }

  test("every reachable unblocked page ends FETCHED") {
    val want = Seq(
      "http://domain1.com/", "http://domain1.com/page1",
      "http://domain1.com/page2", "http://domain2.com/",
      "http://domain2.com/page1")
    want.foreach(u => assert(statusOf(u) == Seq(FS.FETCHED), s"url $u"))
  }

  test("frontier has exactly one row per url") {
    val dup = result.frontier.groupBy("url").count().filter(col("count") > 1).count()
    assert(dup == 0)
  }

  test("journal never shows a fetch before its robots round") {
    // a URL's first fetch round must be >= its first appearance round
    val firstSeen = result.journal.groupBy("url")
      .agg(min(col("round")).as("seen"))
    val firstFetch = result.journal.filter(col("stage") === "fetch")
      .groupBy("url").agg(min(col("round")).as("fetched"))
    val bad = firstFetch.join(firstSeen, "url")
      .filter(col("fetched") < col("seen")).count()
    assert(bad == 0)
  }

  test("focused crawl: low-score outlinks below threshold are never fetched") {
    // root spreads score 1.0 over 4 outlinks -> 0.25 each, below 0.3 gate
    val g = WebGraph(
      "focused.com" -> Seq("focused.com/a", "focused.com/b",
        "focused.com/c", "focused.com/d"),
      "focused.com/a" -> Seq.empty, "focused.com/b" -> Seq.empty,
      "focused.com/c" -> Seq.empty, "focused.com/d" -> Seq.empty)
    val r = CrawlTopology.run(
      spark, Seq(("focused.com", 1.0f)),
      new WebGraphFetcher(g), new MapRobotsFetcher(Map.empty),
      CrawlConfig(maxRounds = 10, minFetchScore = 0.3f))
    val fetched = r.journal.filter(col("stage") === "fetch")
      .select("url").collect().map(_.getString(0)).toSet
    assert(fetched == Set("http://focused.com/"))
    // the outlinks sit in the frontier as UNFETCHED link mass
    val unfetched = r.frontier.filter(col("status") === FS.UNFETCHED).count()
    assert(unfetched == 4)
  }

  test("link mass accumulates: two parents sum onto a shared target") {
    val g = WebGraph(
      "mass.com" -> Seq("mass.com/p1", "mass.com/p2"),
      "mass.com/p1" -> Seq("mass.com/shared"),
      "mass.com/p2" -> Seq("mass.com/shared"),
      "mass.com/shared" -> Seq.empty)
    val r = CrawlTopology.run(
      spark, Seq(("mass.com", 1.0f)),
      new WebGraphFetcher(g), new MapRobotsFetcher(Map.empty),
      CrawlConfig(maxRounds = 4, minFetchScore = 0.9f))
    // p1,p2 get 0.5 each -> below gate; shared accumulates 0.5+0.5 = 1.0
    // only after both parents are parsed, which the gate prevents — so
    // instead run without gate and check the frontier math via journal
    val r2 = CrawlTopology.run(
      spark, Seq(("mass.com", 1.0f)),
      new WebGraphFetcher(g), new MapRobotsFetcher(Map.empty),
      CrawlConfig(maxRounds = 10))
    val shared = r2.frontier.filter(col("url") === "http://mass.com/shared")
      .select("score").collect().map(_.getFloat(0))
    assert(shared.length == 1)
    assert(math.abs(shared(0) - 1.0f) < 1e-6, s"score ${shared(0)}")
    assert(r.frontier.filter(col("url") === "http://mass.com/shared").count() == 0)
  }

  test("round shape: a steady durable round stays within its job and SQL-execution ceilings") {
    // three domains of 8-page chains, one crawl-delayed: every round
    // fetches one page per domain and folds a politeness clock. The
    // journal compaction (every compactEvery appends) stays out of it
    val domains = Seq("shape-a.com", "shape-b.com", "shape-c.com")
    val g = WebGraph(domains.flatMap(d => (0 to 8).map { i =>
      (if (i == 0) d else s"$d/p$i") ->
        (if (i == 8) Seq.empty[String] else Seq(s"$d/p${i + 1}"))
    }): _*)
    val robots = new MapRobotsFetcher(Map(
      "http://shape-a.com/robots.txt" -> "User-agent: *\nCrawl-delay: 1\n"))
    val sc = spark.sparkContext
    val tags = new JobsByTag
    val root = java.nio.file.Files.createTempDirectory("graft-shape").toString
    sc.addSparkListener(tags)
    try {
      CrawlTopology.run(spark, domains.map(d => (d, 1.0f)),
        new WebGraphFetcher(g), robots,
        CrawlConfig(maxRounds = 100, frontierRoot = Some(root),
          frontierCompactEvery = 3, compactEvery = 1000,
          terminator = Some(new RoundTagger(8))))
      org.apache.spark.TestBus.drain(sc)
    } finally {
      sc.removeSparkListener(tags)
      sc.clearJobTags()
    }
    // rounds 2, 5 and 8 also fold the WAL into the bucketed store (the
    // seed commit plus two rounds fill frontierCompactEvery = 3) and round
    // 1 fetches robots.txt; in the steady rounds the seam tasks read the
    // store alone (3, 6) or the store plus one WAL batch (4, 7). A steady
    // round runs two jobs, the seam pass and the WAL append; the third SQL
    // execution is the job-less one Spark opens for the pass's Dataset.rdd
    val shape = Seq(3, 4, 6, 7).map(r => r -> tags.counts(s"round-$r"))
    val seen = shape.mkString("; ")
    assert(shape.forall(_._2.outsideSql.get == 0),
      s"jobs outside any SQL execution (schema inference?): $seen")
    assert(shape.forall(_._2.jobs.get <= 2), s"job ceiling: $seen")
    assert(shape.forall(_._2.sql.get <= 3), s"SQL-execution ceiling: $seen")
  }

  test("parse stage stamps language and parsedMeta on every page (P1)") {
    // a German page with meta tags: language detection + the meta map must
    // travel into CrawlResult.parsed (reference TikaCallable.java:167,
    // ParsedUrl.java:6-69)
    val html =
      """<html><head><title>Seite</title>
        |<meta name="keywords" content="krawler, spark">
        |<meta name="author" content="graft">
        |</head><body>der hund und die katze ist von dem haus mit ein
        |baum und der garten ist das beste und die sonne</body></html>"""
        .stripMargin
    val fetcher = new Fetcher {
      override def fetch(url: String): FetchedPage =
        if (url.startsWith("http://meta.com")) FetchedPage(200, html, "text/html")
        else FetchedPage(404, "", "text/plain")
    }
    val r = CrawlTopology.run(
      spark, Seq(("meta.com", 1.0f)),
      fetcher, new MapRobotsFetcher(Map.empty),
      CrawlConfig(maxRounds = 3))
    val rows = r.parsed
      .filter(col("url").startsWith("http://meta.com"))
      .select("language", "parsedMeta").collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "de", s"language ${rows(0).getString(0)}")
    val meta = rows(0).getAs[Map[String, String]]("parsedMeta")
    assert(meta("keywords") == "krawler, spark", s"meta $meta")
    assert(meta("author") == "graft")
  }
}

class FocusedSchedulingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("score-adaptive quotas: high-score domain gets more fetches per round") {
    // two stars (root -> 10 leaves); domain A seeded with 6x the score of
    // domain B, so A's backlog drains faster under score-scaled quotas
    // (mirrors UrlDBFunctionTest: high-scoring domain fetches >= 2x/interval)
    def star(d: String, n: Int): Seq[(String, Seq[String])] =
      (d -> (0 until n).map(i => s"$d/leaf$i")) +:
        (0 until n).map(i => s"$d/leaf$i" -> Seq.empty[String])
    val g = WebGraph((star("hi.com", 10) ++ star("lo.com", 10)): _*)
    val r = CrawlTopology.run(
      spark,
      Seq(("hi.com", 6.0f), ("lo.com", 1.0f)),
      new WebGraphFetcher(g), new MapRobotsFetcher(Map.empty),
      CrawlConfig(maxRounds = 6, scoreAdaptive = true))
    val perRound = r.journal
      .filter(col("stage") === "fetch")
      .groupBy("round")
      .agg(
        sum(when(col("url").startsWith("http://hi.com"), 1).otherwise(0)).as("hi"),
        sum(when(col("url").startsWith("http://lo.com"), 1).otherwise(0)).as("lo"))
      .collect()
      .map(row => (row.getAs[Long]("hi"), row.getAs[Long]("lo")))
    // after the first round's scores arrive, hi.com must out-fetch lo.com
    assert(perRound.exists { case (hi, _) => hi >= 2 },
      s"hi.com never got a boosted quota: ${perRound.toSeq}")
    assert(perRound.forall { case (_, lo) => lo <= 1 },
      s"lo.com exceeded base quota: ${perRound.toSeq}")
    // chains only advance one hop per fetch, so hi must be deeper overall
    val fetchedHi = r.journal.filter(col("stage") === "fetch" &&
      col("url").startsWith("http://hi.com")).count()
    val fetchedLo = r.journal.filter(col("stage") === "fetch" &&
      col("url").startsWith("http://lo.com")).count()
    assert(fetchedHi > fetchedLo, s"hi=$fetchedHi lo=$fetchedLo")
  }
}

class PolitenessSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("robots crawl-delay paces a domain across rounds") {
    val g = WebGraph(
      ("slow.com" -> (0 until 4).map(i => s"slow.com/leaf$i")) +:
        (0 until 4).map(i => s"slow.com/leaf$i" -> Seq.empty[String]): _*)
    val robots = new MapRobotsFetcher(Map(
      "http://slow.com/robots.txt" ->
        "User-agent: *\nCrawl-delay: 2\n")) // 2 s = 2 round ticks
    val r = CrawlTopology.run(
      spark, Seq(("slow.com", 1.0f)),
      new WebGraphFetcher(g), robots,
      CrawlConfig(maxRounds = 20, scoreAdaptive = false))
    val fetchRounds = r.journal.filter(col("stage") === "fetch")
      .select("round").collect().map(_.getInt(0)).sorted
    assert(fetchRounds.length == 5, s"rounds: ${fetchRounds.toSeq}")
    fetchRounds.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(1) - w(0) >= 2, s"delay violated: ${fetchRounds.toSeq}")
    }
    // everything still gets crawled eventually
    assert(r.frontier.filter(col("status") === FS.FETCHED).count() == 5)
  }

  test("adaptive recrawl: a changing page re-arms fast, a static one backs off") {
    AdaptiveFetchState.counts.clear()
    val r = CrawlTopology.run(
      spark, Seq(("hot.com", 1.0f), ("cold.com", 1.0f)),
      new AdaptiveFetcher(Set("http://hot.com/")),
      new MapRobotsFetcher(Map.empty),
      CrawlConfig(maxRounds = 12, scoreAdaptive = false,
        recrawlIntervalMs = Some(2000),          // cold start: 2 ticks
        adaptiveRecrawl = Some((1000L, 8000L)))) // band: [1, 8] ticks
    def fetchRounds(url: String): Seq[Int] = r.journal
      .filter(col("stage") === "fetch" && col("url") === url)
      .select("round").collect().map(_.getInt(0)).sorted.toSeq
    val hot = fetchRounds("http://hot.com/")
    val cold = fetchRounds("http://cold.com/")
    // both cold-start identically: first fetch, then the fixed interval
    assert(hot.take(2) == Seq(1, 3) && cold.take(2) == Seq(1, 3),
      s"hot=$hot cold=$cold")
    // the changing page's estimated interval stays at ~2 ticks
    assert(hot.length >= 5, s"hot page not re-armed fast: $hot")
    // the static page backs off to the max interval (8 ticks) after its
    // second capture shows no change
    assert(cold.length <= 3, s"static page over-crawled: $cold")
    if (cold.length == 3)
      assert(cold(2) - cold(1) >= 8, s"static backoff too short: $cold")
  }

  test("recrawl interval re-fetches pages in a continuous crawl") {
    val g = WebGraph("re.com" -> Seq.empty)
    val r = CrawlTopology.run(
      spark, Seq(("re.com", 1.0f)),
      new WebGraphFetcher(g), new MapRobotsFetcher(Map.empty),
      CrawlConfig(maxRounds = 8, recrawlIntervalMs = Some(3000)))
    val fetches = r.journal
      .filter(col("stage") === "fetch" && col("url") === "http://re.com/")
      .select("round").collect().map(_.getInt(0)).sorted
    assert(fetches.length >= 2, s"no recrawl happened: ${fetches.toSeq}")
    assert(fetches(1) - fetches(0) >= 3, s"recrawled too soon: ${fetches.toSeq}")
    assert(r.rounds == 8) // continuous mode runs to the round cap
  }
}

/** CrawlConfig.urlShapeGate: the RefinedWeb/C4 URL-shape filter wired at
  * the topology's frontier-insert point (the reference's ValidUrlsFilter
  * slot, SURVEY §2.2 L3) — trap-shaped URLs never enter the frontier and
  * the drops are journaled per round.
  */
class UrlShapeGateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val trap = "domain1.com/a/b/c/d/e/f/g/h/i/j"
  private val graph = WebGraph(
    "domain1.com" -> Seq("domain1.com/ok", trap),
    "domain1.com/ok" -> Seq.empty)
  private val fetcher = new WebGraphFetcher(graph)
  private val robots = new MapRobotsFetcher(Map.empty)

  test("trap-shaped outlinks are journaled and never reach the frontier; gate off admits them") {
    val gated = CrawlTopology.run(spark, Seq(("domain1.com", 1.0f)),
      fetcher, robots,
      cfg = CrawlConfig(maxRounds = 10,
        urlShapeGate = Some(UrlShapeThresholds())))
    val urls = gated.frontier.select("url").collect().map(_.getString(0)).toSet
    assert(urls.contains("http://domain1.com/ok"), urls.toString)
    assert(!urls.exists(_.contains("/a/b/c")), urls.toString)
    val drops = gated.journal
      .filter(col("stage") === "url_shape" && col("status") === "DROPPED_SHAPE")
      .select("url").collect().map(_.getString(0))
    assert(drops.exists(_.contains("/a/b/c")), drops.mkString(","))
    // and the fetch stage never saw it (a drop at insert costs nothing)
    val fetchedTrap = gated.journal
      .filter(col("stage") === "fetch" && col("url").contains("/a/b/c"))
    assert(fetchedTrap.count() == 0)

    // gate off: the same crawl admits the trap (proves the gate is what
    // blocked it, not URL validity)
    val open = CrawlTopology.run(spark, Seq(("domain1.com", 1.0f)),
      fetcher, robots, cfg = CrawlConfig(maxRounds = 10))
    val openUrls = open.frontier.select("url").collect().map(_.getString(0)).toSet
    assert(openUrls.exists(_.contains("/a/b/c")), openUrls.toString)
  }

  test("trap-shaped seeds are gated at round 0 and journaled") {
    val r = CrawlTopology.run(spark,
      Seq(("domain1.com/ok", 1.0f),
        ("domain1.com/p?a=1&b=2&c=3&d=4&e=5", 1.0f)),
      fetcher, robots,
      cfg = CrawlConfig(maxRounds = 3,
        urlShapeGate = Some(UrlShapeThresholds())))
    val urls = r.frontier.select("url").collect().map(_.getString(0)).toSet
    assert(urls.contains("http://domain1.com/ok"), urls.toString)
    assert(!urls.exists(_.contains("a=1")), urls.toString)
    val drop = r.journal.filter(col("stage") === "url_shape")
      .select("round", "url").collect()
    assert(drop.exists(x => x.getInt(0) == 0 && x.getString(1).contains("a=1")),
      drop.mkString(","))
  }
}

/** Shared fetch-count state for AdaptiveFetcher: a static map survives
  * task-side deserialization in local mode, so "content changes on every
  * fetch" is observable across rounds.
  */
object AdaptiveFetchState {
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}

/** Serves 200 HTML for every URL; pages in `hot` change their body on
  * every fetch, everything else is byte-stable — the fixture for the
  * adaptive-recrawl change estimator.
  */
final class AdaptiveFetcher(hot: Set[String]) extends graft.crawl.Fetcher {
  override def fetch(url: String): graft.crawl.FetchedPage = {
    val n = AdaptiveFetchState.counts.merge(url, 1, (a, b) => a + b)
    val body =
      if (hot(url)) s"<html><body>version $n of this page</body></html>"
      else "<html><body>immutable content here</body></html>"
    graft.crawl.FetchedPage(200, body, "text/html")
  }
}

/** Tags the Spark jobs and SQL executions of crawl round n `round-<n>`
  * (the terminator is consulted once at the head of every round) and
  * stops the crawl after `rounds` rounds.
  */
final class RoundTagger(rounds: Int) extends CrawlTerminator {
  private var n = 0
  override def isTerminated(): Boolean = {
    val sc = SparkTestSession.spark.sparkContext
    sc.clearJobTags()
    n += 1
    sc.addJobTag(s"round-$n")
    n > rounds
  }
}
