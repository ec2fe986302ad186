package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.schema.{CrawlStateUrl, FetchStatus}

/** Merge semantics for two sightings of the same URL in the crawl frontier
  * (reference: src/main/java/com/scaleunlimited/flinkcrawler/urldb/
  * DefaultUrlStateMerger.java:18-61, contract BaseUrlStateMerger.java:8-24):
  *
  *  - UNFETCHED + UNFETCHED  -> sum scores (inbound link mass), keep
  *    max(statusTime), min(nextFetchTime);
  *  - UNFETCHED vs fetched-ish -> the fetched-ish record wins (its score);
  *  - fetched-ish vs fetched-ish -> the more recent statusTime wins; ties
  *    break on FetchStatus priority, then lexicographic status for total
  *    determinism.
  *
  * Exposed two ways, pinned against each other by UrlStateMergerSpec:
  *  1. [[UrlStateMerger.mergeOnto]] / [[UrlStateMerger.mergeAll]] — an
  *     in-memory fold of one partition's sightings through the
  *     [[UrlStateMerger.MergeBuf]] buffer, the crawl round's merge (the
  *     reference's `MapState` per subtask);
  *  2. [[UrlStateMerger.mergeFrontier]] — the equivalent whole-stage-codegen
  *     columnar form for batch plans (conditional aggregation, no UDAF).
  */
object UrlStateMerger {

  /** Merge two states of the same URL (the reference's pairwise contract).
    * NOTE: folding this pairwise over 3+ records is order-sensitive in one
    * corner (the accumulated max(statusTime) participates in later
    * tie-breaks), which is why [[mergeAll]] uses a dedicated buffer that
    * keeps the winner's own key separate from the accumulated aggregates.
    */
  def merge(a: CrawlStateUrl, b: CrawlStateUrl): CrawlStateUrl = {
    val aFetched = FetchStatus.isFetchedIsh(a.status)
    val bFetched = FetchStatus.isFetchedIsh(b.status)
    if (!aFetched && !bFetched) {
      // both lifecycle (UNFETCHED/QUEUED/FETCHING): keep the "further along"
      // one (priority), sum scores only when both are UNFETCHED sightings
      val sumScores =
        a.status == FetchStatus.UNFETCHED && b.status == FetchStatus.UNFETCHED
      val winner = pickByPriorityThenTime(a, b)
      winner.copy(
        score = if (sumScores) a.score + b.score else winner.score,
        statusTime = math.max(a.statusTime, b.statusTime),
        nextFetchTime = math.min(a.nextFetchTime, b.nextFetchTime))
    } else if (aFetched && !bFetched) a
    else if (!aFetched && bFetched) b
    else { // both terminal: most recent statusTime wins
      if (a.statusTime != b.statusTime)
        (if (a.statusTime > b.statusTime) a else b)
      else pickByPriorityThenTime(a, b)
    }
  }

  private def pickByPriorityThenTime(a: CrawlStateUrl, b: CrawlStateUrl): CrawlStateUrl = {
    val pa = FetchStatus.priority(a.status)
    val pb = FetchStatus.priority(b.status)
    if (pa != pb) (if (pa > pb) a else b)
    else if (a.statusTime != b.statusTime) (if (a.statusTime > b.statusTime) a else b)
    else if (a.status.compareTo(b.status) >= 0) a
    else b
  }

  /** Aggregation buffer: best terminal record, best lifecycle record (by the
    * record's OWN key, so fold order can't leak accumulated values into
    * tie-breaks), plus the three accumulated aggregates. The score sum is
    * a double, as Spark's `sum` over the float column is.
    */
  final case class MergeBuf(
      term: CrawlStateUrl,      // null until a terminal record is seen
      life: CrawlStateUrl,      // null until a lifecycle record is seen
      sumUnfetched: Double,
      lifeMaxTime: Long,
      lifeMinNext: Long)

  private def termOrd(r: CrawlStateUrl) =
    (r.statusTime, FetchStatus.priority(r.status), r.status, r.score, r.nextFetchTime)
  private def lifeOrd(r: CrawlStateUrl) =
    (FetchStatus.priority(r.status).toLong, r.statusTime, r.status, r.score)
  private def maxByTerm(a: CrawlStateUrl, b: CrawlStateUrl): CrawlStateUrl = {
    import scala.math.Ordering.Implicits._
    if (a == null) b else if (b == null) a
    else if (termOrd(a) >= termOrd(b)) a else b
  }
  private def maxByLife(a: CrawlStateUrl, b: CrawlStateUrl): CrawlStateUrl = {
    import scala.math.Ordering.Implicits._
    if (a == null) b else if (b == null) a
    else if (lifeOrd(a) >= lifeOrd(b)) a else b
  }

  val zero: MergeBuf = MergeBuf(null, null, 0.0, Long.MinValue, Long.MaxValue)

  /** Fold one sighting into a URL's buffer — order-independent. */
  def reduce(buf: MergeBuf, in: CrawlStateUrl): MergeBuf =
    if (FetchStatus.isFetchedIsh(in.status))
      buf.copy(term = maxByTerm(buf.term, in))
    else MergeBuf(
      buf.term,
      maxByLife(buf.life, in),
      buf.sumUnfetched +
        (if (in.status == FetchStatus.UNFETCHED) in.score.toDouble else 0.0),
      math.max(buf.lifeMaxTime, in.statusTime),
      math.min(buf.lifeMinNext, in.nextFetchTime))

  def finish(b: MergeBuf): CrawlStateUrl =
    if (b.term != null) b.term
    else b.life.copy(
      statusTime = b.lifeMaxTime,
      score =
        if (b.life.status == FetchStatus.UNFETCHED) b.sumUnfetched.toFloat
        else b.life.score,
      nextFetchTime = b.lifeMinNext)

  /** One output row per url of `rows`, merged in memory. */
  def mergeAll(rows: Iterator[CrawlStateUrl]): Iterator[CrawlStateUrl] =
    mergeOnto(Iterator.empty, rows)

  /** `base` (at most one row per url, e.g. a bucket file) merged with
    * `updates`: only the updates are held in memory, keyed by url. Each
    * base row streams through, merged when an update shares its url;
    * the update-only urls follow.
    */
  def mergeOnto(
      base: Iterator[CrawlStateUrl],
      updates: Iterator[CrawlStateUrl]): Iterator[CrawlStateUrl] = {
    val bufs = new java.util.HashMap[String, MergeBuf]()
    updates.foreach(r => bufs.put(r.url, reduce(bufs.getOrDefault(r.url, zero), r)))
    base.map { r =>
      val b = bufs.remove(r.url)
      if (b == null) r else finish(reduce(b, r))
    } ++ scala.jdk.CollectionConverters.IteratorHasAsScala(
      bufs.values().iterator()).asScala.map(finish)
  }

  /** Columnar batch form of the same semantics, for plans that stay inside
    * whole-stage codegen. Input columns: url, pld, status, statusTime,
    * score, nextFetchTime. One output row per url.
    *
    * The "latest terminal record" is selected with max_by over a
    * (statusTime, priority, status) struct — a total order, so the result
    * is deterministic regardless of partitioning.
    */
  def mergeFrontier(frontier: DataFrame): DataFrame = {
    val priorityCol: Column =
      when(col("status") === FetchStatus.UNFETCHED, 0)
        .when(col("status").isin(FetchStatus.QUEUED, FetchStatus.FETCHING), 10)
        .when(col("status") === FetchStatus.FETCHED, 25)
        .otherwise(50)
    val isTerminal: Column =
      !col("status").isin(FetchStatus.UNFETCHED, FetchStatus.QUEUED, FetchStatus.FETCHING)

    // struct max = lexicographic compare => max_by with the winner's payload
    // carried along. Terminal winner: most recent statusTime (then priority,
    // then status). Lifecycle winner: highest priority (then statusTime,
    // then status) — matches pickByPriorityThenTime.
    val termKey = struct(
      col("statusTime"), priorityCol.as("prio"), col("status"),
      col("score"), col("nextFetchTime"))
    val lifeKey = struct(
      priorityCol.as("prio"), col("statusTime"), col("status"), col("score"))

    frontier
      .withColumn("_terminal", isTerminal)
      .groupBy(col("url"))
      .agg(
        first(col("pld")).as("pld"),
        max(when(col("_terminal"), termKey)).as("_t"),
        max(when(!col("_terminal"), lifeKey)).as("_l"),
        sum(when(col("status") === FetchStatus.UNFETCHED, col("score"))
          .otherwise(lit(0).cast(frontier.schema("score").dataType)))
          .cast(frontier.schema("score").dataType).as("_sumUnfetched"),
        max(when(!col("_terminal"), col("statusTime"))).as("_lifeMaxTime"),
        min(when(!col("_terminal"), col("nextFetchTime"))).as("_lifeMinNext"))
      .select(
        col("url"),
        col("pld"),
        when(col("_t").isNotNull, col("_t.status"))
          .otherwise(col("_l.status")).as("status"),
        when(col("_t").isNotNull, col("_t.statusTime"))
          .otherwise(col("_lifeMaxTime")).as("statusTime"),
        when(col("_t").isNotNull, col("_t.score"))
          .when(col("_l.prio") === 0, col("_sumUnfetched"))
          .otherwise(col("_l.score")).as("score"),
        when(col("_t").isNotNull, col("_t.nextFetchTime"))
          .otherwise(col("_lifeMinNext")).as("nextFetchTime"))
  }
}
