package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl._
import graft.tools.{FleetConfig, LoopbackFleet}

/** Fetcher seam wrapper: while tracing is on, records one span per fetch,
  * named by its HTTP status and URL. Runs inside Spark tasks.
  */
final class TimedFetcher(inner: Fetcher, layer: String) extends Fetcher {
  override def fetch(url: String): FetchedPage = {
    if (!Trace.on) return inner.fetch(url)
    val t0 = Trace.now()
    var status = -1
    try {
      val page = inner.fetch(url)
      status = page.statusCode
      page
    } finally Trace.record(layer, s"$status $url", t0, Trace.now())
  }
}

/** Consulted once per round at the head of the crawl loop. It stamps the
  * round boundaries, switches tracing on for round 1 and then for rounds
  * in the pattern u t t u (rounds 3, 4, 7, 8, ...), and stops the crawl
  * once at least `minRounds` rounds ran and half of another round would
  * not fit before the deadline. Driver-side only.
  */
final class RoundClock(deadlineMs: Double, minRounds: Int,
    @transient tracing: Option[Tracing]) extends CrawlTerminator {
  @transient lazy val entries = mutable.ArrayBuffer.empty[Double]
  @transient lazy val exits = mutable.ArrayBuffer.empty[Double]
  @transient lazy val tracedRounds = mutable.Set.empty[Int]

  override def isTerminated(): Boolean = {
    entries += Trace.now()
    val lastRoundMs = if (exits.isEmpty) 0.0 else entries.last - exits.last
    val done = entries.size - 1 >= minRounds &&
      entries.last + lastRoundMs / 2 >= deadlineMs
    tracing.foreach { t =>
      if (Trace.on) t.stop()
      val next = entries.size
      if (!done && (next == 1 || next % 4 == 3 || next % 4 == 0)) {
        t.start()
        tracedRounds += next
      }
    }
    exits += Trace.now()
    done
  }

  /** Closes the last round when the crawl ended without consulting the
    * clock (an exhausted frontier).
    */
  def close(crawlEnd: Double, roundsRun: Int): Unit =
    if (entries.size == roundsRun) entries += crawlEnd

  /** (round, start, end) of every completed round. */
  def rounds: Seq[(Int, Double, Double)] =
    (1 until entries.size).map(r => (r, exits(r - 1), entries(r)))
}

/** The live-crawl workload: a seeded [[LoopbackFleet]] crawled through
  * `CrawlTopology.run` with the production wiring (real HttpFetcher,
  * durable frontier, wall-clock politeness, WARC content sink), one client
  * in a closed loop. The seed picks where each domain's crawl starts.
  */
object CrawlWorkload {

  final case class Shape(domains: Int, pagesPerDomain: Int, warmRounds: Int,
      latencyMs: Long = 5L, delayEvery: Int = 5, crawlDelaySec: Double = 0.25)

  val full = Shape(domains = 40, pagesPerDomain = 25, warmRounds = 2)
  // LiveCrawlBenchSpec's fleet
  val smoke = Shape(domains = 24, pagesPerDomain = 12, warmRounds = 2)

  final case class Crawl(
      fleet: LoopbackFleet, result: CrawlResult, wallMs: Double,
      root: String, warcCalls: Long, warcMs: Double, warcBytes: Long) {
    /** Pages fetched per round, from the crawl journal. */
    lazy val pagesPerRound: Map[Int, Long] = result.journal
      .filter(col("stage") === "fetch").groupBy("round").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  private def dirFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirFiles).sum
    else 1L

  /** One crawl against a fresh fleet. */
  def crawl(spark: SparkSession, shape: Shape, cpus: Int, seed: Long,
      root: String, clock: RoundClock, tracing: Option[Tracing]): Crawl = {
    val fleet = new LoopbackFleet(FleetConfig(
      domains = shape.domains, pagesPerDomain = shape.pagesPerDomain,
      latencyMs = shape.latencyMs, delayEvery = shape.delayEvery,
      crawlDelaySec = shape.crawlDelaySec, serverThreads = cpus))
    Main.step("port bind")(fleet.start())
    try {
      // every domain is seeded, so rounds fetch about one page per domain
      // from the first round on; the seed picks each domain's start page
      val rng = Main.random(seed)
      val seeds = (0 until shape.domains).map(i =>
        (fleet.url(i, s"/p${rng.nextInt(shape.pagesPerDomain / 2)}"), 1.0f))
      val http = new HttpFetcher()
      val warcDir = s"$root/warc"
      var warcCalls = 0L
      var warcMs = 0.0
      var warcBytes = 0L
      val warc: DataFrame => Unit =
        df => graft.sinks.Sinks.writeWarcContent(df, warcDir)
      val sink: DataFrame => Unit =
        if (tracing.isEmpty) warc
        else df => {
          if (!Trace.on) warc(df)
          else {
            val before = dirBytes(new File(warcDir))
            val t0 = Trace.now()
            warc(df)
            val t1 = Trace.now()
            Trace.record("sinks", "warc", t0, t1)
            warcCalls += 1
            warcMs += t1 - t0
            warcBytes += dirBytes(new File(warcDir)) - before
          }
        }
      val (pages, robots) =
        if (tracing.isEmpty) (http, http)
        else (new TimedFetcher(http, "fetch"), new TimedFetcher(http, "robots"))
      val cfg = CrawlConfig(
        maxRounds = 1000,
        defaultCrawlDelayMs = 0L,
        wallClockRounds = true,
        // every thread pool stays within the machine's cores: `cpus`
        // fetch tasks with one connection each
        fetchThreads = 1,
        robotsThreads = 1,
        terminator = Some(clock),
        frontierRoot = Some(s"$root/frontier"),
        contentSink = Some(sink))
      val t0 = Trace.now()
      val result = CrawlTopology.run(spark, seeds, pages, robots, cfg,
        lengthener = None, sitemapFetcher = Some(http))
      val wall = Trace.now() - t0
      clock.close(t0 + wall, result.rounds)
      if (Trace.on) tracing.foreach(_.stop())
      Crawl(fleet, result, wall, root, warcCalls, warcMs, warcBytes)
    } finally fleet.stop()
  }

  /** WARC records written under the crawl's archive directory. */
  def warcRecords(root: String): Long = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.startsWith(".")) Nil else Seq(f)
    files(new File(s"$root/warc")).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().count(_.startsWith("WARC-Type: resource")).toLong
      finally src.close()
    }.sum
  }

  def frontierStats(root: String): (Long, Long) = {
    val f = new File(s"$root/frontier")
    (dirBytes(f), dirFiles(f))
  }
}
