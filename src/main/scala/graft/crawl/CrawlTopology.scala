package graft.crawl

import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

import graft.functions.UrlFunctions
import graft.operators.UrlStateMerger
import graft.schema.{CrawlStateUrl, FetchStatus => FS}
import graft.util.Observed

/** Crawl configuration (defaults mirror the reference's knobs:
  * …/flinkcrawler/topology/CrawlTopologyBuilder.java:87-98,
  * …/functions/UrlDBFunction.java:54-58, CheckUrlWithRobotsFunction.java:49).
  */
final case class CrawlConfig(
    maxRounds: Int = 50,
    maxUrlsPerDomainPerRound: Int = 1, // politeness: fetches per PLD per round
    maxQueueSize: Int = 10000,         // global FetchQueue capacity per round
    minFetchScore: Float = 0.0f,
    maxOutlinksPerPage: Int = 50,
    defaultCrawlDelayMs: Long = 0L,
    // forced > robots > default (reference CrawlToolOptions
    // -forcecrawldelay → CheckUrlWithRobotsFunction.processUrl's
    // _forceCrawlDelay override): when set, every allowed URL carries
    // THIS delay even if robots.txt provides something else
    forceCrawlDelayMs: Option[Long] = None,
    roundTickMs: Long = 1000L,         // logical clock advance per round
    // LIVE-web pacing: when true, each round's `now` is the wall clock
    // (System.currentTimeMillis) instead of round*roundTickMs, and the
    // per-domain politeness clocks advance from the actual fetch
    // completion time — so "no two hits to a domain inside its crawl
    // delay" holds in REAL time at the socket, not just in tick units.
    // Mock/spec crawls keep the deterministic logical clock (default).
    wallClockRounds: Boolean = false,
    deferBlockedMs: Long = 100000000L, // reference: now + 100_000 s
    // retry interval for SKIPPED_DEFERRED (robots UNREACHABLE, not
    // forbidding): aligned with RobotsCache.ErrorTtlMs so by the time
    // the URL re-arms the rules cache is willing to refetch robots —
    // the shorter-than-blocked retry the reference leaves as its
    // issue-53 FUTURE (CheckUrlWithRobotsFunction.java:217-221)
    deferRetryMs: Long = RobotsCache.ErrorTtlMs,
    singleDomain: Option[String] = None,
    // focused crawling: scale each domain's per-round fetch quota by its
    // moving-average page score relative to the global mean (the reference's
    // score-proportional timer cadence, UrlDBFunction.checkIntervalForDomain
    // :333-351 clamped to [1ms, 1000ms] around a 200ms base)
    scoreAdaptive: Boolean = true,
    scoreWindow: Int = 10,             // MovingAverageFunction window (G1)
    maxQuotaBoost: Int = 5,            // quota clamp: [1, boost x base]
    // continuous crawling: FETCHED pages become eligible again after this
    // interval (the reference never stops; nextFetchTime re-arms fetches)
    recrawlIntervalMs: Option[Long] = None,
    // ADAPTIVE recrawl ([[RevisitPolicy]]): per-URL refetch intervals
    // estimated from observed content-change history (body-hash flips
    // between captures), clamped to this (minMs, maxMs) band. Pages with
    // fewer than two captures fall back to recrawlIntervalMs (cold
    // start), so this only takes effect WITH recrawlIntervalMs set —
    // the policy the reference leaves as a TODO (FetchQueue.java:55).
    // The history is run-scoped; for cross-run durability archive
    // fetches via contentSink (WARC + CDX sidecar) and seed the next
    // run's schedule from [[RevisitPolicy.fromCdx]] — the sidecar IS
    // the capture log.
    adaptiveRecrawl: Option[(Long, Long)] = None,
    // newest captures remembered per URL for the change estimate; the
    // history fold prunes to this window (like the domain score window)
    // so per-round cost is O(recent captures), not O(crawl lifetime)
    captureWindow: Int = 8,
    // parse watchdog (reference ParserPolicy.java:14-18: kill a parse at
    // 30 s) — pages exceeding it are journaled ERROR_PARSE, not hung on
    parseBudgetMs: Long = 30000L,
    // pluggable stop (reference CrawlTerminator.java:6-12): checked once
    // per round; bounds continuous crawls that never exhaust the frontier
    terminator: Option[CrawlTerminator] = None,
    // durable frontier (reference CrawlTool.java:60-64 checkpointed
    // state): when set, every round commits through FrontierStore's
    // merge-on-read table at this root and a fresh run resumes from it
    frontierRoot: Option[String] = None,
    frontierBuckets: Int = 64,
    // rounds between bucketed-table folds of the frontier WAL: each
    // round commits durably as ONE small WAL parquet append (crash
    // replay-exact via the manifest watermark); the full bucketed write
    // cycle — merge read, B bucket files, sidecars — runs on this
    // cadence instead of every round. Higher = cheaper rounds but a
    // longer WAL for each owner to read and for a resume to replay;
    // 1 = the pre-WAL commit-every-round behavior
    frontierCompactEvery: Int = 8,
    // driver-plan hygiene: journal/parsed accumulators are compacted
    // (lineage-truncated) every this-many appended batches so a
    // thousand-round crawl never builds a thousand-node union plan
    compactEvery: Int = 32,
    // per-round content sink: receives the round's successfully fetched
    // pages as (url, statusCode, contentType, headers, content binary,
    // fetchTimeMs) — the reference's WARC-writer tap on the fetch stream
    // (CrawlTopologyBuilder.java:441-453); Sinks.writeWarcContent plugs in
    // here for archive-and-replay crawls
    contentSink: Option[DataFrame => Unit] = None,
    // async I/O at the network seams ([[graft.util.Pooled]]): per-TASK
    // worker threads draining the robots gate and the page/sitemap fetch
    // through a bounded pool with unordered completion — the reference's
    // BaseAsyncFunction design (CheckUrlWithRobotsFunction.java:52 = 10
    // robots threads; FetchUrlsFunction.java:49 = the fetcher's
    // maxSimultaneousRequests). Effective crawl concurrency = tasks ×
    // threads instead of tasks. 1 = serial (deterministic test path).
    robotsThreads: Int = 10,
    fetchThreads: Int = 10,
    // URL-shape quality gate at frontier-insert time (the RefinedWeb/C4
    // URL-filtering slot, operators.UrlQuality): trap-shaped URLs (deep
    // paths, parameter explosions, digit-dominated, over-long) are
    // dropped BEFORE they enter the frontier — where a drop costs
    // nothing, vs a fetch + parse downstream — and journaled per round
    // as stage "url_shape" / status DROPPED_SHAPE. The reference's
    // ValidUrlsFilter slot (SURVEY §2.2 L3) only checks validity/domain;
    // this is the training-data-crawl extension of it. None = off.
    urlShapeGate: Option[UrlShapeThresholds] = None)

/** Thresholds for [[graft.operators.UrlQuality.gate]] at the topology's
  * frontier-insert point (see [[CrawlConfig.urlShapeGate]]).
  */
final case class UrlShapeThresholds(
    maxDepth: Long = 8, maxParams: Long = 4,
    maxDigitPct: Long = 40, maxLen: Long = 512)

final case class CrawlResult(
    frontier: DataFrame,   // CrawlStateUrl columns
    parsed: DataFrame,     // url, pld, title, text, score
    journal: DataFrame,    // round, stage, url, status
    rounds: Int,
    // per-round observe() gauges: (round, gauge, value) — queue depth is
    // the one CrawlerMetrics gauge the journal cannot reconstruct
    gauges: Seq[(Int, String, Long)] = Seq.empty) {

  /** G5 metric counters (reference …/flinkcrawler/metrics/CrawlerMetrics
    * .java:3-13 gauges) derived from the journal: "stage.STATUS" -> count.
    */
  def metrics: Map[String, Long] =
    journal.groupBy("stage", "status").count().collect()
      .map(r => s"${r.getString(0)}.${r.getString(1)}" -> r.getLong(2))
      .toMap

  /** Peak per-round fetch-queue depth (reference URLS_IN_FETCH_QUEUE). */
  def maxQueueDepth: Long =
    gauges.collect { case (_, "urls_in_queue", v) => v }
      .foldLeft(0L)(math.max)
}

/** The crawl dataflow re-expressed for Spark's acyclic execution model
  * (SURVEY.md §2.12): the reference's two `IterativeStream` feedback loops
  * (…/flinkcrawler/topology/CrawlTopologyBuilder.java:271-284,419-437)
  * become a driver-side micro-batch recurrence over a persisted frontier
  * table. Each round is one partition-local pass — seam task p owns the
  * frontier buckets b ≡ p (mod seamParts), as the reference's
  * `UrlDBFunction` keeps each PLD's crawl DB in one subtask:
  *
  *   owned bucket files + owned WAL rows ── merge (UrlStateMerger)
  *     ── schedule (per-PLD quota heap + global cut)
  *     ── robots gate → politeness rank → fetch → parse
  *     ── advance the owned domain state (politeness clock, scores)
  *   then derive {statusUpdates, outlinks, sitemapUrls}, clean the new
  *   URLs and append them to the WAL as one small file; every owner reads
  *   it next round and keeps its own rows (outlinks cross domains).
  *
  * Scale notes: no round shuffles store rows — each task reads its own
  * bucket files and streams them through its schedule. A task holds its
  * share of the pending WAL rows (the commits since the last fold), its
  * domains' state and one bounded heap per domain, not its bucket rows;
  * in-memory mode (`frontierRoot = None`) holds its whole share of the
  * frontier, which it keeps between rounds. The only cross-domain values
  * are the global score mean and the queue cut, both computed on the
  * driver.
  */
final case class Candidate(url: String, pld: String, score: Float)

/** Fetch-stage output. `content` is the RAW response body (reference
  * FetchResultUrl.java:6-109 carries byte[]); the parse stage decodes it
  * with the contentType's declared charset (BasePageParser.java:62-63),
  * so a mixed-charset corpus round-trips the fetch stage losslessly.
  */
final case class FetchOutcome(
    url: String, pld: String, status: String, score: Float,
    crawlDelay: Long, content: Array[Byte], contentType: String,
    redirectedTo: String,
    // response headers (reference FetchResultUrl.java:6-109); the parse
    // stage resolves the decode charset from these BEFORE contentType
    headers: Map[String, Seq[String]] = Map.empty,
    // wall-clock fetch COMPLETION time, stamped only under
    // CrawlConfig.wallClockRounds: the politeness clock must advance
    // from when the domain was actually hit, not from the round's start
    // snapshot — otherwise a fetch late in round R plus an early round
    // R+1 squeezes two hits closer than the crawl delay (0 = unstamped)
    fetchedAtMs: Long = 0L)
final case class RobotsVerdict(
    url: String, pld: String, score: Float,
    verdict: String, // ALLOWED | BLOCKED
    crawlDelay: Long, sitemaps: Seq[String])

/** One candidate's row out of a round's seam pass. `stage` names where it
  * left the pass: "robots" (SKIPPED_BLOCKED / SKIPPED_DEFERRED),
  * "politeness" (SKIPPED_CRAWLDELAY), "allowed" (cleared, waiting for a
  * caller-supplied fetch stage) or "fetch" (the fetch outcome; `parse` is
  * "ok" or "failed" for a page that went through the parser, else "").
  * `sitemaps` are the robots.txt declarations of the URL's host;
  * `outlinks` are the page's top `maxOutlinksPerPage` (url, score) links.
  */
final case class SeamRow(
    url: String, pld: String, score: Float, stage: String, status: String,
    crawlDelay: Long, sitemaps: Seq[String],
    content: Array[Byte] = Array.emptyByteArray, contentType: String = "",
    redirectedTo: String = "", headers: Map[String, Seq[String]] = Map.empty,
    fetchedAtMs: Long = 0L, parse: String = "", title: String = "",
    text: String = "", language: String = "",
    parsedMeta: Map[String, String] = Map.empty,
    outlinks: Seq[(String, Float)] = Seq.empty)

/** One domain's round state, kept in the seam partition that owns the
  * domain: the politeness clock (FetchUrlsFunction's domainKey ->
  * nextFetchTime map, 0 = none — a domain whose crawl delay outlasts a
  * round tick stays off the schedule until `nextAllowed`) and the
  * focused-crawl feedback (the reference's DomainScore iteration,
  * CrawlTopologyBuilder.java:419-423: the newest `scoreWindow`
  * (round, page score) pairs, newest first).
  */
final case class DomainState(pld: String, nextAllowed: Long, scores: Seq[(Int, Float)]) {
  def avg: Option[Double] =
    if (scores.isEmpty) None else Some(scores.foldLeft(0.0)(_ + _._2) / scores.size)
}

/** One capture of a fetched page (adaptive recrawl's change history). */
final case class Capture(url: String, ts: Long, fp: Long, capId: Long)

/** One seam task's counts, summed by the pass's observation: the queue
  * depth, the eligible rows, the frontier's domains, whether it fetched,
  * the robots sitemap declarations, an upper bound on the new domains
  * its outlinks add, and its domain state's score means.
  */
final case class PassTally(
    queued: Long = 0L, eligible: Long = 0L, plds: Long = 0L, fetched: Long = 0L,
    sitemaps: Long = 0L, outPlds: Long = 0L, scored: Long = 0L, avgSum: Double = 0.0)

/** One row out of a round's partition-local pass; exactly one field is
  * set. The state rows (`front` — the in-memory frontier — `domain`,
  * `capture`) stay in the partition that owns them and are the next
  * round's input.
  */
final case class RoundRow(
    seam: SeamRow = null, front: CrawlStateUrl = null,
    domain: DomainState = null, capture: Capture = null, tally: PassTally = null)

/** What every seam task of a round shares: the round clock, the global
  * score mean, the global cut ((score, url) of the maxQueueSize-th best
  * candidate when the queue would overflow), and the run's settings.
  */
private[crawl] final case class PassCtx(
    now: Long, round: Int, globalAvg: Double, cut: Option[(Float, String)],
    queueOpen: Boolean, keepFrontier: Boolean, fetch: Boolean,
    scope: String, cfg: CrawlConfig)

object CrawlTopology {

  /** Normalize/validate raw URLs into UNFETCHED frontier rows
    * (the reference's cleanUrls() chain: LengthenUrls — not needed for the
    * mocked fetchers — then NormalizeUrls then ValidUrlsFilter;
    * CrawlTopologyBuilder.java:475-484).
    */
  def cleanUrls(
      spark: SparkSession,
      urls: Dataset[(String, Float)],
      now: Long,
      cfg: CrawlConfig,
      lengthener: Option[UrlLengthener] = None): Dataset[CrawlStateUrl] = {
    import spark.implicits._
    val domainOk = cfg.singleDomain match {
      case Some(d) => (u: String) => UrlFunctions.isUrlWithinDomain(u, d)
      case None => (_: String) => true
    }
    lengthener.fold(urls)(l => l(urls))
      .map { case (u, s) => (UrlFunctions.normalizeUrl(u), s) }
      .filter(t => UrlFunctions.isValidUrl(t._1) && domainOk(t._1))
      .map { case (u, s) =>
        CrawlStateUrl(u, UrlFunctions.extractPld(u), FS.UNFETCHED, now, s, 0L)
      }
  }

  /** (score, url) best first: score descending, then url — the order of
    * the schedule's per-domain rank, the politeness rank and the outlink
    * top-K.
    */
  private val bestFirst: Ordering[(Float, String)] =
    Ordering.Tuple2(Ordering.Float.TotalOrdering, Ordering.String)
      .on[(Float, String)] { case (score, url) => (-score, url) }

  /** Robots gate (CheckUrlWithRobotsFunction) plus the in-round crawl-delay
    * rank over one seam task's candidates. The seam partitions by pld, so
    * every candidate of a pld is in the task and the rank needs no window:
    * a domain with a positive delay fetches only its best URL this round;
    * its other allowed URLs stay UNFETCHED and the domain clock blocks the
    * following rounds. Returns the rows that leave the pass here and the
    * verdicts cleared to fetch now.
    */
  private def gate(it: Iterator[Candidate], robots: Fetcher, scope: String,
      cfg: CrawlConfig): (Seq[SeamRow], Seq[RobotsVerdict]) = {
    // executor-singleton TTL cache: rules survive across rounds and tasks
    // on the same executor (CheckUrlWithRobotsFunction TTLs), namespaced
    // per crawl run so crawls in one JVM never see each other's rules.
    // The drain is pooled (reference: 10 robots threads) — the cache's
    // single-flight guard keeps a burst of same-host misses to ONE fetch.
    val verdicts = graft.util.Pooled.unordered(
        it, cfg.robotsThreads, name = "robots") { c =>
      val rules = RobotsCache.rulesFor(
        UrlFunctions.robotsUrl(c.url), robots, scope = scope)
      if (!rules.isAllowed(UrlFunctions.robotsPath(c.url)))
        // unreachable robots (5xx/exception) DEFERS the visit — retryable
        // on the error TTL — instead of blocking it
        RobotsVerdict(c.url, c.pld, c.score,
          if (rules.deferVisits) "DEFERRED" else "BLOCKED", 0L, rules.sitemaps)
      else
        RobotsVerdict(c.url, c.pld, c.score, "ALLOWED",
          cfg.forceCrawlDelayMs.getOrElse(
            rules.crawlDelayMs.getOrElse(cfg.defaultCrawlDelayMs)), rules.sitemaps)
    }.toVector
    val (allowed, refused) = verdicts.partition(_.verdict == "ALLOWED")
    val (cleared, held) = allowed.groupBy(_.pld).values.toSeq
      .flatMap(_.sortBy(v => (v.score, v.url))(bestFirst).zipWithIndex)
      .partition { case (v, rank) => rank == 0 || v.crawlDelay <= 0 }
    def row(v: RobotsVerdict, stage: String, status: String) =
      SeamRow(v.url, v.pld, v.score, stage, status, v.crawlDelay, v.sitemaps)
    (refused.map(v => row(v, "robots",
        if (v.verdict == "DEFERRED") FS.SKIPPED_DEFERRED else FS.SKIPPED_BLOCKED)) ++
      held.map { case (v, _) => row(v, "politeness", FS.SKIPPED_CRAWLDELAY) },
      cleared.map(_._1))
  }

  /** Page fetch (FetchUrlsFunction) of one robots-cleared URL; redirects
    * surface as HTTP_MOVED with the target re-entering the loop as a new
    * URL.
    */
  private def fetchOne(
      pf: Fetcher, v: RobotsVerdict, stampWall: Boolean): FetchOutcome = {
    val page = Fetcher.safeFetch(pf, v.url)
    val status = FS.fromHttpStatus(page.statusCode)
    // raw bytes when the fetcher has them; text fixtures are encoded with
    // the declared charset (strict, UTF-8 + contentType rewrite on
    // unrepresentable chars) so parse's decode reproduces the original
    // text exactly. The DECLARED type for text encoding is the
    // Content-Type header when present (headers outrank the contentType
    // field, reference BasePageParser.java:62-91)
    val declaredCt = UrlFunctions
      .headerFirst(page.headers, "Content-Type")
      .getOrElse(page.contentType)
    val (body, ct) =
      if (status != FS.FETCHED) (Array.emptyByteArray, page.contentType)
      else if (page.bytes != null) (page.bytes, page.contentType)
      else UrlFunctions.encodeForFetch(page.content, declaredCt)
    // if the encode fallback re-labeled the charset, the header copy must
    // agree — parse resolves headers first
    val headers =
      if (status == FS.FETCHED && page.bytes == null)
        page.headers.map { case (k, vs) =>
          if (k.equalsIgnoreCase("Content-Type")) k -> Seq(ct)
          else k -> vs
        }
      else page.headers
    FetchOutcome(v.url, v.pld, status, v.score, v.crawlDelay,
      body, ct, page.redirectedTo.getOrElse(""), headers,
      // completion stamp AFTER the fetch returned: the server was hit no
      // later than this, so clock-from-here spaces real hits by >=
      // crawlDelay (wall mode only — logical crawls stay deterministic)
      fetchedAtMs = if (stampWall) System.currentTimeMillis() else 0L)
  }

  /** Parse stage (ParseFunction) of one fetch outcome, as its seam row.
    * Fetched HTML parses under the watchdog budget (ParserPolicy.java
    * :14-18 — one adversarial page must not pin an executor core; a
    * timeout is journaled ERROR_PARSE) and keeps its top
    * `maxOutlinksPerPage` outlinks by score (ParseFunction.java:104-126).
    */
  private def parseOne(
      f: FetchOutcome, sitemaps: Seq[String], cfg: CrawlConfig): SeamRow = {
    val row = SeamRow(f.url, f.pld, f.score, "fetch", f.status, f.crawlDelay,
      sitemaps, f.content, f.contentType, f.redirectedTo, f.headers,
      f.fetchedAtMs)
    val declaredCt = UrlFunctions.headerFirst(f.headers, "Content-Type")
      .getOrElse(f.contentType)
    if (f.status != FS.FETCHED || !declaredCt.contains("html")) row
    else {
      // charset resolution happens HERE, not at fetch (reference
      // BasePageParser.java:62-63): the frontier pipeline stays
      // byte-faithful and only the parser commits to a decoding —
      // response headers outrank the contentType field
      val html = new String(f.content,
        UrlFunctions.charsetFromHeaders(f.headers, f.contentType))
      HtmlParser.parseWithBudget(f.url, html, f.score, cfg.parseBudgetMs) match {
        // per-page language detection + meta map travel with the parsed
        // record (reference TikaCallable.java:167, ParsedUrl.java:6-69)
        case Some(p) => row.copy(parse = "ok", title = p.title,
          text = p.text, language = graft.operators.TextOps.predictLang(p.text),
          parsedMeta = p.meta,
          outlinks = p.outlinks.map(o => (o.url, o.score))
            .sortBy(o => (o._2, o._1))(bestFirst).take(cfg.maxOutlinksPerPage))
        case None => row.copy(parse = "failed")
      }
    }
  }

  /** One owner partition's domain state and capture windows, read from
    * its state rows, and its merged frontier as a stream: in in-memory
    * mode the kept frontier rows merged with this round's commits; in
    * durable mode `rows` as given, which [[FrontierStore.ownedRows]]
    * already merged.
    */
  private final case class Owned(
      domains: scala.collection.mutable.Map[String, DomainState],
      captures: scala.collection.mutable.Map[String, Vector[Capture]],
      frontier: Iterator[CrawlStateUrl])

  private def own(state: Iterator[RoundRow], rows: Iterator[CrawlStateUrl],
      ctx: PassCtx): Owned = {
    val fronts = Vector.newBuilder[CrawlStateUrl]
    val domains = scala.collection.mutable.HashMap.empty[String, DomainState]
    val captures = scala.collection.mutable.HashMap.empty[String, Vector[Capture]]
    state.foreach { r =>
      if (r.front != null) fronts += r.front
      else if (r.domain != null) domains(r.domain.pld) = r.domain
      else if (r.capture != null)
        captures(r.capture.url) = captures.getOrElse(r.capture.url, Vector.empty) :+ r.capture
    }
    Owned(domains, captures,
      if (ctx.keepFrontier) UrlStateMerger.mergeOnto(fronts.result().iterator, rows)
      else rows)
  }

  /** One owner's schedule: the candidates best first, the eligible-row
    * and domain counts, and (in-memory mode) the merged frontier rows to
    * keep for the next round.
    */
  private final case class Sched(
      candidates: Seq[Candidate], eligible: Long, plds: Long,
      kept: Vector[CrawlStateUrl])

  /** The schedule of one owner partition — FetchQueue semantics: the
    * eligible rows of domains whose politeness clock has passed, each
    * domain's best `quota` by (score, url) through a bounded heap, and
    * only the candidates at or above the round's global cut. The merged
    * frontier streams through once; what stays in memory is the heaps
    * and the domain set.
    */
  private def schedule(o: Owned, ctx: PassCtx): Sched = {
    val cfg = ctx.cfg
    // SKIPPED_DEFERRED rows re-arm once their (short) retry interval
    // passes — the whole point of defer-vs-block: by then the robots
    // cache's error TTL has expired and the rules get refetched. With a
    // recrawl interval FETCHED pages re-arm too, at their estimated
    // change interval under adaptive recrawl (fewer than two captures:
    // the fixed cold-start interval)
    def refetchDue(r: CrawlStateUrl): Boolean = cfg.recrawlIntervalMs.exists { interval =>
      val every = cfg.adaptiveRecrawl.flatMap { case (minMs, maxMs) =>
        o.captures.get(r.url).filter(_.size > 1).map(cs => RevisitPolicy.estIntervalMs(
          cs.map(c => (c.ts, c.fp, c.capId)), minMs, maxMs))
      }.getOrElse(interval)
      r.status == FS.FETCHED && r.statusTime + every <= ctx.now
    }
    def isEligible(r: CrawlStateUrl) =
      ((r.status == FS.UNFETCHED || r.status == FS.SKIPPED_DEFERRED) &&
        r.nextFetchTime <= ctx.now || refetchDue(r)) && r.score >= cfg.minFetchScore
    // focused crawling: a domain's fetch quota is its moving-average page
    // score against the global mean (G1) — score-proportional
    // scheduling, clamp [1, boost x base]; unscored domains get base
    val base = cfg.maxUrlsPerDomainPerRound
    def quota(pld: String): Int = o.domains.get(pld).flatMap(_.avg) match {
      case Some(avg) if cfg.scoreAdaptive =>
        val q = BigDecimal(base * avg / math.max(ctx.globalAvg, 0.01))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toInt
        math.max(1, math.min(cfg.maxQuotaBoost * base, q))
      case _ => base
    }
    val key = (c: CrawlStateUrl) => (c.score, c.url)
    val heaps = scala.collection.mutable.HashMap.empty[String, java.util.PriorityQueue[CrawlStateUrl]]
    val worstFirst = bestFirst.on(key).reverse
    val plds = scala.collection.mutable.HashSet.empty[String]
    val kept = Vector.newBuilder[CrawlStateUrl]
    var eligible = 0L
    o.frontier.foreach { r =>
      plds += r.pld
      if (ctx.keepFrontier) kept += r
      if (isEligible(r)) {
        eligible += 1
        if (o.domains.get(r.pld).forall(_.nextAllowed <= ctx.now)) {
          val k = quota(r.pld)
          if (k > 0) {
            val h = heaps.getOrElseUpdate(r.pld, new java.util.PriorityQueue(k, worstFirst))
            if (h.size < k) h.add(r)
            else if (bestFirst.lt(key(r), key(h.peek()))) { h.poll(); h.add(r) }
          }
        }
      }
    }
    val picked = heaps.valuesIterator.flatMap(h =>
        scala.jdk.CollectionConverters.CollectionHasAsScala(h).asScala)
      .filter(r => ctx.queueOpen && ctx.cut.forall(bestFirst.lteq(key(r), _)))
      .toVector.sortBy(key)(bestFirst)
    Sched(picked.map(r => Candidate(r.url, r.pld, r.score)), eligible, plds.size,
      kept.result())
  }

  /** Advances one owner's state by its fetch rows of this round, one row
    * at a time: the politeness clocks of delayed domains — from the
    * latest actual fetch completion when wall-paced (fetchedAtMs is 0 on
    * logical crawls and archive stages, so the max degrades to the round
    * snapshot there) — each domain's newest `scoreWindow` parsed page
    * scores (ParseFunction's score side output :102), and under adaptive
    * recrawl each fetched page's newest `captureWindow` captures. The
    * state stays O(domains x window + urls x captures), never O(pages
    * crawled), and no page body is held past its own row.
    */
  private final class Advance(o: Owned, ctx: PassCtx) {
    private val cfg = ctx.cfg
    // pld -> (latest fetch completion, longest delay) of its delayed fetches
    private val clocks = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    private val scores = scala.collection.mutable.HashMap.empty[String, Vector[(Int, Float)]]
    // the domains of the round's outlinks and redirect targets
    private val outPlds = scala.collection.mutable.HashSet.empty[String]
    private var fetched = 0L

    def add(f: SeamRow): Unit = {
      fetched += 1
      if (f.crawlDelay > 0) {
        val (at, delay) = clocks.getOrElse(f.pld, (0L, 0L))
        clocks(f.pld) = (math.max(at, f.fetchedAtMs), math.max(delay, f.crawlDelay))
      }
      if (cfg.scoreAdaptive && f.parse == "ok" && f.score > 0.0f)
        scores(f.pld) = scores.getOrElse(f.pld, Vector.empty) :+ ((ctx.round, f.score))
      if (cfg.adaptiveRecrawl.isDefined && f.status == FS.FETCHED) {
        val fp = XXH64.hashUnsafeBytes(
          f.content, Platform.BYTE_ARRAY_OFFSET, f.content.length, 42L)
        o.captures(f.url) = (o.captures.getOrElse(f.url, Vector.empty) :+
          Capture(f.url, ctx.now, fp, ctx.round.toLong))
          .sortBy(-_.capId).take(cfg.captureWindow)
      }
      (f.outlinks.iterator.map(_._1) ++ Iterator(f.redirectedTo).filter(_.nonEmpty))
        .foreach(u => outPlds += UrlFunctions.extractPld(UrlFunctions.normalizeUrl(u)))
    }

    /** Apply the round to the domain state; the tally gains the fetch
      * side: whether the task fetched, an upper bound on the new domains
      * (distinct per task, summed over tasks) and the state's score means.
      */
    def finish(tally: PassTally): PassTally = {
      def domain(pld: String) = o.domains.getOrElse(pld, DomainState(pld, 0L, Seq.empty))
      clocks.foreach { case (pld, (at, delay)) =>
        val d = domain(pld)
        o.domains(pld) = d.copy(nextAllowed =
          math.max(d.nextAllowed, math.max(at, ctx.now) + delay))
      }
      scores.foreach { case (pld, fresh) =>
        val d = domain(pld)
        o.domains(pld) = d.copy(scores =
          (d.scores ++ fresh).sorted(newestFirst).take(cfg.scoreWindow))
      }
      val avgs = o.domains.valuesIterator.flatMap(_.avg).toVector
      tally.copy(fetched = math.min(fetched, 1L), outPlds = outPlds.size,
        scored = avgs.size, avgSum = avgs.sum)
    }
  }

  private val newestFirst: Ordering[(Int, Float)] =
    Ordering.Tuple2(Ordering.Int, Ordering.Float.TotalOrdering).reverse

  /** The owner's state rows — the kept frontier `front`, its domains and
    * captures — then its tally.
    */
  private def stateRows(
      o: Owned, front: Iterator[CrawlStateUrl], tally: PassTally): Iterator[RoundRow] =
    front.map(r => RoundRow(front = r)) ++
      o.domains.valuesIterator.map(d => RoundRow(domain = d)) ++
      o.captures.valuesIterator.flatten.map(c => RoundRow(capture = c)) ++
      Iterator(RoundRow(tally = tally))

  /** One owner partition's round: merge its sightings, schedule, run the
    * robots gate and the in-round crawl-delay rank, then — unless a
    * caller's fetch stage takes over — fetch and parse the cleared
    * candidates through the task's pool (FetchUrlsFunction's thread
    * pool: task wall ≈ Σ latencies / fetchThreads) and advance the
    * owner's domain state in place. Seam rows stream out as they
    * complete; the state rows and the tally follow.
    */
  private def ownerPass(state: Iterator[RoundRow], rows: Iterator[CrawlStateUrl],
      ctx: PassCtx, robots: Fetcher, pages: Fetcher): Iterator[RoundRow] = {
    val o = own(state, rows, ctx)
    val sched = schedule(o, ctx)
    val (held, cleared) = gate(sched.candidates.iterator, robots, ctx.scope, ctx.cfg)
    val advance = new Advance(o, ctx)
    val out =
      if (!ctx.fetch) cleared.iterator.map(v => SeamRow(v.url, v.pld, v.score,
        "allowed", "", v.crawlDelay, v.sitemaps))
      else graft.util.Pooled.unordered(
          cleared.iterator, ctx.cfg.fetchThreads, name = "fetch") { v =>
          (fetchOne(pages, v, ctx.cfg.wallClockRounds), v.sitemaps)
        }.map { case (f, sm) =>
          val row = parseOne(f, sm, ctx.cfg)
          advance.add(row)
          row
        }
    val tally = PassTally(queued = sched.candidates.size, eligible = sched.eligible,
      plds = sched.plds,
      sitemaps = held.map(_.sitemaps.size.toLong).sum +
        cleared.map(_.sitemaps.size.toLong).sum)
    (held.iterator ++ out).map(s => RoundRow(seam = s)) ++
      stateRows(o, sched.kept.iterator, advance.finish(tally))
  }

  def run(
      spark: SparkSession,
      seeds: Seq[(String, Float)],
      pageFetcher: Fetcher,
      robotsFetcher: Fetcher,
      cfg: CrawlConfig = CrawlConfig(),
      initialFrontier: Option[DataFrame] = None,
      // pluggable fetch stage (e.g. ArchiveFetch.stage for snapshot joins);
      // defaults to per-URL mapPartitions calls through `pageFetcher`
      fetchStage: Option[Dataset[RobotsVerdict] => Dataset[FetchOutcome]] = None,
      lengthener: Option[UrlLengthener] = None,
      // sitemaps are XML, so a page fetcher restricted by mime allow-list
      // (--htmlonly) must not gate them — the reference builds a SEPARATE
      // sitemap fetcher (CrawlTool.java:89 getSitemapFetcherBuilder).
      // Defaults to the page fetcher.
      sitemapFetcher: Option[Fetcher] = None): CrawlResult = {
    import spark.implicits._
    val sc = spark.sparkContext

    // namespaces the JVM-wide robots cache for this run (tests and long
    // -lived drivers run many topologies per JVM)
    val crawlRunId = java.util.UUID.randomUUID().toString

    // network-seam parallelism: the robots gate and the page fetch are
    // LATENCY-bound, so their task count must follow the cluster's slot
    // count, not the data size. Seam partition p owns the frontier
    // buckets b ≡ p (mod seamParts) under the store's own pld hash
    // (FrontierStore.ownerOf): a round reads, merges, schedules, fetches
    // and folds a domain's state in the one task that owns it
    val seamParts = sc.defaultParallelism
    val buckets = cfg.frontierBuckets
    val hadoopConf = sc.broadcast(new SerializableWritable(sc.hadoopConfiguration))

    val gauges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]

    // journal/parsed accumulate incrementally with periodic lineage
    // truncation: a plain per-round buffer folds into an R-node union
    // plan whose ANALYSIS cost blows up on long crawls before the data
    // does — compacting every `compactEvery` appends caps the plan depth.
    // The union has one partition per appended partition; the compaction
    // coalesces them to seamParts so it is not one tiny task per append
    val emptyParsed =
      Seq.empty[(String, String, String, String, Float, String, Map[String, String])]
        .toDF("url", "pld", "title", "text", "score", "language", "parsedMeta")
    val emptyJournal = Seq.empty[(Int, String, String, String)]
      .toDF("round", "stage", "url", "status")
    var journalAcc = emptyJournal
    var journalPending = 0
    var parsedAcc = emptyParsed
    var parsedPending = 0
    // `rows` carry (stage, url, status)
    def journalStages(round: Int, rows: DataFrame): Unit = {
      journalAcc = journalAcc.unionByName(rows
        .withColumn("round", lit(round))
        .select("round", "stage", "url", "status"))
      journalPending += 1
      if (journalPending >= cfg.compactEvery) {
        journalAcc = journalAcc.coalesce(seamParts).localCheckpoint(true)
        journalPending = 0
      }
    }
    def journal(round: Int, stage: String, rows: DataFrame): Unit =
      journalStages(round, rows.withColumn("stage", lit(stage)))

    cfg.terminator.foreach(_.open())

    // frontier-insert shape gate (CrawlConfig.urlShapeGate): split one
    // small per-round frame with two filters (no join); drops are
    // journaled so an operator can audit what the gate is eating
    def shapeGate(round: Int, rows: DataFrame): DataFrame =
      cfg.urlShapeGate match {
        case None => rows
        case Some(t) =>
          val ok = graft.operators.UrlQuality.passes(
            col("url"), t.maxDepth, t.maxParams, t.maxDigitPct, t.maxLen)
          journal(round, "url_shape", rows.filter(!ok)
            .select(col("url"), lit("DROPPED_SHAPE").as("status")))
          rows.filter(ok)
      }

    // rows routed to the partition that owns their pld: the in-memory
    // frontier's commits and a caller fetch stage's outcomes (HashPartitioner
    // maps an Int key in [0, seamParts) to itself)
    def route[T: scala.reflect.ClassTag](rows: org.apache.spark.rdd.RDD[T])(
        pld: T => String) = org.apache.spark.rdd.RDD.rddToPairRDDFunctions(
        rows.keyBy(r => FrontierStore.ownerOf(pld(r), buckets, seamParts)))
      .partitionBy(new org.apache.spark.HashPartitioner(seamParts)).values
    def aligned[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
        rows: Seq[T]): Dataset[T] = spark.createDataset(sc.parallelize(rows, seamParts))

    // the round state between passes: the last pass's state rows, each in
    // the partition that owns it; in-memory mode also keeps its frontier
    // there and routes each commit's rows to their owners (`pending`)
    var state: Dataset[RoundRow] = aligned(Seq.empty[RoundRow])
    var pending: Dataset[CrawlStateUrl] = aligned(Seq.empty[CrawlStateUrl])
    // WAL bookkeeping for the durable mode: each commit is one small
    // append; the bucketed fold runs every frontierCompactEvery commits
    // and once more at run end (so the at-rest store needs no replay)
    var walSeq: Long = cfg.frontierRoot
      .map(FrontierStore.nextWalSeq(spark, _)).getOrElse(0L)
    var walPending = 0
    def commitFrontier(updates: DataFrame): Unit = cfg.frontierRoot match {
      case Some(root) =>
        // durable round commit = ONE small WAL append (the full bucketed
        // write cycle every round was the measured live-crawl limiter,
        // PERF_NOTES r16/r17); each owner of the next pass reads it and
        // keeps its own rows, and the crawl survives a driver restart at
        // ANY point (manifest watermark makes replay exactly-once)
        FrontierStore.appendWal(spark, root, updates, walSeq)
        walSeq += 1
        walPending += 1
        if (walPending >= math.max(1, cfg.frontierCompactEvery)) {
          FrontierStore.compactWal(spark, root, buckets)
          walPending = 0
        }
      case None =>
        pending = spark.createDataset(route(updates
          .select(col("url"), col("pld"), col("status"), col("statusTime"),
            col("score").cast("float").as("score"), col("nextFetchTime"))
          .as[CrawlStateUrl].rdd)(_.pld)).localCheckpoint(true)
    }
    def owned() = cfg.frontierRoot.fold(pending.rdd)(
      FrontierStore.ownedRows(spark, _, seamParts, buckets, hadoopConf))

    // merge the seeds (and any caller-held frontier) into the durable
    // store when one is configured: a fresh run against a populated root
    // RESUMES — already-FETCHED rows win the merge and are not refetched
    val seedRows = shapeGate(0,
      cleanUrls(spark, seeds.toDS(), 0L, cfg, lengthener).toDF())
    commitFrontier(initialFrontier.fold(seedRows)(f => f.unionByName(seedRows)))
    // journal THIS run's seeds, not the merged frontier — resuming
    // against a populated store would otherwise journal the whole store
    // (O(store) rows in the seed stage on every restart)
    journal(0, "seed", seedRows.select(col("url"), col("status")))

    // observed on each pass: the mean pldAvg of the scored domains (the
    // quota's global reference)
    var globalAvg = 0.0
    // an upper bound on the frontier's domains, None when unknown: while
    // every domain's largest quota fits the queue, no global cut can bind
    var pldBound: Option[Long] = None
    val maxQuota =
      if (cfg.scoreAdaptive) Seq(1, cfg.maxUrlsPerDomainPerRound,
        cfg.maxQuotaBoost * cfg.maxUrlsPerDomainPerRound).max
      else cfg.maxUrlsPerDomainPerRound

    // sitemaps fetched in ANY prior round (reference: sitemap state in the
    // UrlDB; without it an active domain's sitemap is refetched every
    // round for the crawl's lifetime)
    var seenSitemaps: DataFrame = Seq.empty[String].toDF("sitemapUrl")

    val tallyCols = Seq("queued", "eligible", "plds", "fetched", "sitemaps",
      "outPlds", "scored", "avgSum").map(f => sum(col(s"tally.$f")).as(f))
    def stateOf(out: Dataset[RoundRow]) =
      out.filter(col("seam").isNull && col("tally").isNull).as[RoundRow]

    var round = 0
    var active = true
    while (active && round < cfg.maxRounds &&
        !cfg.terminator.exists(_.isTerminated())) {
      round += 1
      val roundT0 = System.nanoTime()
      val now =
        if (cfg.wallClockRounds) System.currentTimeMillis()
        else round * cfg.roundTickMs

      // --- schedule: FetchQueue semantics (per-domain fairness + global
      // top-K by score with min-score gate; UrlDBFunction/FetchQueue),
      // partition-local. The global maxQueueSize cut is the one
      // cross-domain step: when the domain bound cannot rule it out, a
      // schedule-only pass finds the maxQueueSize-th best candidate first
      val ctx0 = PassCtx(now, round, globalAvg, None, cfg.maxQueueSize > 0,
        keepFrontier = cfg.frontierRoot.isEmpty, fetch = fetchStage.isEmpty,
        crawlRunId, cfg)
      val ctx =
        if (pldBound.exists(_ * maxQuota <= cfg.maxQueueSize)) ctx0
        else {
          val best = spark.createDataset(state.rdd.zipPartitions(owned()) {
              (st, rows) => schedule(own(st, rows, ctx0), ctx0).candidates.iterator
            }).orderBy(col("score").desc, col("url").asc)
            .limit(math.min(cfg.maxQueueSize.toLong + 1, Int.MaxValue).toInt).collect()
          if (best.length <= cfg.maxQueueSize) ctx0
          else ctx0.copy(cut = best.lift(cfg.maxQueueSize - 1).map(c => (c.score, c.url)))
        }

      // --- seam pass: ONE task per owner partition reads its frontier
      // rows, schedules, runs robots gate → politeness rank → fetch →
      // parse and advances its domain state, with no exchange before the
      // fetch. Politeness is enforced before the pool — the schedule's
      // per-domain cap, then the gate's crawl-delay rank — so it never
      // hits one host harder than the schedule allows. The queue depth,
      // the sitemap count, the fetching task count and the domain state's
      // global mean ride the ONE checkpoint as observed metrics
      val passObs = org.apache.spark.sql.Observation(s"queue_r$round")
      val out = spark.createDataset(state.rdd.zipPartitions(owned()) {
          (st, rows) => ownerPass(st, rows, ctx, robotsFetcher, pageFetcher)
        }).observe(passObs, tallyCols.head, tallyCols.tail: _*)
        .localCheckpoint(true)
      val queueDepth = Observed.long(passObs, "queued")
      gauges += ((round, "urls_in_queue", queueDepth))
      state = stateOf(out)
      pending = aligned(Seq.empty[CrawlStateUrl])
      // the observation that saw the owners' state after this round
      var foldObs = passObs
      pldBound = Some(Observed.long(passObs, "plds"))

      if (queueDepth == 0L) {
        // distinguish "frontier exhausted" from "all ready domains are
        // inside their politeness window" — the latter just skips a tick;
        // continuous mode (recrawl) never self-terminates: pages re-arm
        if (Observed.long(passObs, "eligible") == 0L && cfg.recrawlIntervalMs.isEmpty)
          active = false
      } else {
        val gated = out.filter(col("seam").isNotNull).select("seam.*")
        val seam = fetchStage match {
          case None => gated
          case Some(stage) =>
            // a caller's fetch stage is a Dataset function: it reads the
            // gate's pinned output; its outcomes parse in a narrow map,
            // then route to their owners, which advance their state
            val outcomes = stage(gated.filter(col("stage") === "allowed").as[SeamRow]
                .map(v => RobotsVerdict(v.url, v.pld, v.score, "ALLOWED",
                  v.crawlDelay, v.sitemaps)))
              .map(parseOne(_, Seq.empty, cfg))
              .localCheckpoint(true)
            val advObs = org.apache.spark.sql.Observation()
            val advanced = spark.createDataset(state.rdd.zipPartitions(
                route(outcomes.rdd)(_.pld)) { (st, rows) =>
                val o = own(st, Iterator.empty, ctx)
                val advance = new Advance(o, ctx)
                rows.foreach(advance.add)
                stateRows(o, o.frontier, advance.finish(PassTally()))
              }).observe(advObs, tallyCols.head, tallyCols.tail: _*)
              .localCheckpoint(true)
            state = stateOf(advanced)
            foldObs = advObs
            gated.unionByName(outcomes.toDF())
        }
        // seam-shape gauge: the tasks that fetched — at 1 the crawl
        // concurrency has collapsed to a single pool (the AQE-coalescing
        // failure LiveCrawlBench exists to catch)
        gauges += ((round, "fetch_tasks", Observed.long(foldObs, "fetched")))
        val sitemapCount = Observed.long(passObs, "sitemaps")
        // the seam's journal stages as ONE append, so the journal
        // compaction (every compactEvery appends) stays that many rounds
        // apart: a refused row is its robots or politeness row; a fetch
        // row is its fetch row plus its parse_failed row, or its parse row
        // when the page parsed with a positive score (the pages parsedAcc
        // keeps)
        def stageEntry(stage: Column, status: Column) =
          struct(stage.as("stage"), status.as("status"))
        journalStages(round, seam
          .filter(col("stage").isin("robots", "politeness", "fetch"))
          .select(col("url"), explode(array(
            stageEntry(col("stage"), col("status")),
            when(col("parse") === "failed",
              stageEntry(lit("parse_failed"), lit(FS.ERROR_PARSE))),
            when(col("parse") === "ok" && col("score") > 0.0f,
              stageEntry(lit("parse"), lit(FS.FETCHED))))).as("entry"))
          .filter(col("entry").isNotNull)
          .select(col("entry.stage"), col("url"), col("entry.status")))

        // --- sitemap discovery: fetch+parse each sitemap ONCE per crawl —
        // the anti-join against seenSitemaps keeps an active domain's
        // sitemap from being refetched every round for the crawl's life.
        // The stage only RUNS when the robots gate surfaced a sitemap
        // declaration (sitemapCount above) — skipped, it contributes no
        // driver actions to the round
        val sitemapLinks: Dataset[(String, Float)] =
          if (sitemapCount == 0L) spark.emptyDataset[(String, Float)]
          else {
            val sitemapFetches = seam
              .select(col("pld"), explode(col("sitemaps")).as("sitemapUrl"))
              .distinct()
              .join(seenSitemaps, Seq("sitemapUrl"), "left_anti")
              .select(col("pld"), col("sitemapUrl"))
              .repartition(seamParts, col("sitemapUrl"))
              .as[(String, String)]
              .mapPartitions { it =>
                // pooled like the page fetch (the reference routes sitemaps
                // through a second FetchUrlsFunction instance)
                graft.util.Pooled.unordered(
                    it, cfg.fetchThreads, name = "sitemap") {
                  case (_, sitemapUrl) =>
                    val page = Fetcher.safeFetch(
                      sitemapFetcher.getOrElse(pageFetcher), sitemapUrl)
                    val links =
                      if (page.statusCode == 200)
                        HtmlParser.parseSitemap(page.content)
                      else Seq.empty[String]
                    (sitemapUrl, page.statusCode, links)
                }
              }
              .localCheckpoint(true) // one fetch pass: links + failure journal
            if (sitemapFetches.head(1).nonEmpty) {
              // only SUCCESSFUL fetches become "seen": a transiently failing
              // sitemap (5xx during a restart) stays eligible and is retried
              // next round instead of being blacked out for the crawl's life
              seenSitemaps = seenSitemaps
                .unionByName(
                  sitemapFetches.filter(_._2 == 200).map(_._1).toDF("sitemapUrl"))
                .distinct()
                .localCheckpoint(false)
            }
            // L7 HandleFailedSiteMapFunction (reference …/flinkcrawler/
            // functions/HandleFailedSiteMapFunction.java:13-31): failed
            // sitemap fetches are recorded, not silently dropped
            journal(round, "sitemap_failed",
              sitemapFetches
                .filter(_._2 != 200)
                .map(f => (f._1, FS.fromHttpStatus(f._2)))
                .toDF("url", "status"))
            sitemapFetches.flatMap(_._3.map(u => (u, 1.0f)))
          }

        val fetched = seam.filter(col("stage") === "fetch")

        // content tap: every fetch ATTEMPT (with response headers) flows
        // to the configured sink — WARC archiving, content parquet,
        // metrics. Non-2xx outcomes are archived too (real status code +
        // redirect target, empty body), so a replayed crawl reconstructs
        // redirects and errors instead of flattening them to 404 — the
        // reference CommonCrawlFetcher replays archived status codes
        cfg.contentSink.foreach { sink =>
          sink(fetched.select(col("url"),
            ArchiveFetch.fetchStatusToHttpStatusCol(col("status")).as("statusCode"),
            col("contentType"), col("headers"), col("content"),
            lit(now).as("fetchTimeMs"), col("redirectedTo")))
        }

        val parsedPages = fetched.filter(col("parse") === "ok")
        val parsedOut = parsedPages
          .filter(col("score") > 0.0f)
          .select(col("url"), col("pld"), col("title"), col("text"),
            col("score"), col("language"), col("parsedMeta"))
        parsedAcc = parsedAcc.unionByName(parsedOut)
        parsedPending += 1
        if (parsedPending >= cfg.compactEvery) {
          parsedAcc = parsedAcc.coalesce(seamParts).localCheckpoint(true)
          parsedPending = 0
        }

        // --- close the loop: clean new URLs, merge everything
        // (the 4-way union at CrawlTopologyBuilder.java:433-437)
        val outlinks = parsedPages.select(explode(col("outlinks")).as("o"))
          .select(col("o._1"), col("o._2")).as[(String, Float)]
        val redirectTargets = fetched.filter(col("redirectedTo") =!= "")
          .select(col("redirectedTo"), col("score")).as[(String, Float)]
        val newUrls = shapeGate(round, cleanUrls(spark,
          outlinks.union(sitemapLinks).union(redirectTargets),
          now, cfg, lengthener).toDF())

        // per-URL re-arm time: a fetch row's crawlDelay already carries
        // the forced > robots > default precedence (resolved at the gate),
        // so a forced delay is used AS-IS — max-ing with the default would
        // override a force below defaultCrawlDelayMs (ADVICE r16); without
        // one, the max() floors delays that arrived 0 from non-robots
        // paths. Refused rows re-arm after the defer or block interval.
        val fetchDelay =
          if (cfg.forceCrawlDelayMs.isDefined) col("crawlDelay")
          else greatest(col("crawlDelay"), lit(cfg.defaultCrawlDelayMs))
        val statusUpdates = seam.filter(col("stage").isin("robots", "fetch"))
          .select(col("url"), col("pld"), col("status"),
            lit(now).as("statusTime"), col("score"),
            (lit(now) + when(col("stage") === "fetch", fetchDelay)
              .when(col("status") === FS.SKIPPED_DEFERRED, lit(cfg.deferRetryMs))
              .otherwise(lit(cfg.deferBlockedMs))).as("nextFetchTime"))
        commitFrontier(statusUpdates.unionByName(newUrls))
        pldBound =
          if (sitemapCount > 0 || lengthener.isDefined) None
          else pldBound.map(_ + Observed.long(foldObs, "outPlds"))
        // a round that scheduled work is "activity" for idle-based
        // terminators (reference NoActivityCrawlTerminator); rounds that
        // only tick politeness clocks are not
        cfg.terminator.foreach(_.reportActivity())
      }
      val scored = Observed.long(foldObs, "scored")
      globalAvg =
        if (scored == 0L) 0.0 else Observed.number(foldObs, "avgSum").doubleValue() / scored
      // flat per-round wall time is the long-crawl invariant the journal
      // compaction / score pruning / seen-sitemaps state exist to hold;
      // surfacing it as a gauge lets benches assert it directly
      gauges += ((round, "round_ms", (System.nanoTime() - roundT0) / 1000000))
    }

    // fold any WAL tail into the bucketed table: the at-rest store reads
    // whole through FrontierStore.read (no replay needed), and the final
    // returned frontier references no WAL files. In-memory mode merges
    // the last commit into the owners' frontier rows
    val frontier = cfg.frontierRoot match {
      case Some(root) =>
        if (walPending > 0) FrontierStore.compactWal(spark, root, buckets)
        FrontierStore.read(spark, root)
          .getOrElse(spark.emptyDataset[CrawlStateUrl].toDF())
      case None =>
        spark.createDataset(state.rdd.zipPartitions(pending.rdd) { (st, rows) =>
          UrlStateMerger.mergeOnto(st.filter(_.front != null).map(_.front), rows)
        }).toDF().localCheckpoint(true)
    }

    // the run's robots entries are unreachable once the scope retires —
    // free them instead of leaking one scope per run in long-lived JVMs
    RobotsCache.clearScope(crawlRunId)

    CrawlResult(frontier, parsedAcc, journalAcc, round, gauges.toSeq)
  }
}
