package graft.crawl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Adaptive revisit scheduling — turns a URL's capture HISTORY into its
  * next fetch time.
  *
  * The reference carries a `nextFetchTime` on every crawl-state row
  * (`pojos/CrawlStateUrl.java:17,88-92`), merges it through the URL DB
  * (`urldb/DefaultUrlStateMerger.java:42` keeps the earlier time), and
  * gates the fetch queue on it — but leaves the policy that SETS it
  * adaptive as an explicit TODO (`utils/FetchQueue.java:55` "refetch URL
  * if fetch time is earlier than now"; `CheckUrlWithRobotsFunction
  * .java:217-228` uses a fixed retry interval). This operator implements
  * that policy the way a production recrawler does (Cho &
  * Garcia-Molina's frequency-estimation family): estimate each URL's
  * observed change rate from consecutive capture fingerprints and
  * schedule the next visit at the estimated change interval, clamped to
  * a [min, max] band so dead pages don't starve and hot pages don't
  * monopolize the fetch budget.
  *
  * All outputs are integer epoch-millis / counts (integer division for
  * the interval estimate), so the schedule is engine-exact and
  * oracle-checkable — the same fixed-point discipline as
  * [[graft.operators.LinkRank]].
  *
  * Scale shape: one window partitioned by URL (billions of partitions,
  * each a handful of captures — the partition count is the
  * parallelizable dimension, never the partition size) followed by one
  * hash aggregate on the same key, so Catalyst collapses the pair into a
  * single shuffle on `url`. No global window, no collect; a 100 TB CDX
  * capture log is exactly this shape (url-keyed, epoch-sorted).
  */
object RevisitPolicy {

  /** Per-URL change statistics + adaptive schedule.
    *
    * Input: one row per CAPTURE — (url, tsMs, fingerprint[, tieCol]) —
    * e.g. a CDX sidecar scan ([[graft.sources.CdxLookup.entries]]: SURT
    * key, 14-digit timestamp, content digest). `tieCol` makes the
    * capture order total when two captures share a timestamp (pass a
    * capture id; ordering must be total for lag() to be deterministic).
    *
    * Output, one row per url:
    *  - `n_captures`, `n_changes` — captures seen / fingerprint flips
    *    between consecutive captures (first capture is not a change)
    *  - `first_ts`, `last_ts` — observation span, epoch millis
    *  - `est_interval_ms` — span div n_changes, clamped to
    *    [minIntervalMs, maxIntervalMs]; a URL never seen to change (or
    *    seen once) gets maxIntervalMs
    *  - `next_fetch_ms` — last_ts + est_interval_ms; feed straight into
    *    the frontier's `nextFetchTime` column
    */
  def schedule(
      captures: DataFrame, urlCol: String, tsCol: String, fpCol: String,
      tieCol: String,
      minIntervalMs: Long, maxIntervalMs: Long): DataFrame = {
    require(minIntervalMs > 0 && maxIntervalMs >= minIntervalMs,
      s"bad interval band [$minIntervalMs, $maxIntervalMs]")
    val order = Window.partitionBy(col("url"))
      .orderBy(col("ts").asc, col("tie").asc)
    val flagged = captures.select(
        col(urlCol).as("url"), col(tsCol).cast("long").as("ts"),
        col(fpCol).as("fp"), col(tieCol).as("tie"))
      .withColumn("__prev_fp", lag(col("fp"), 1).over(order))
      .withColumn("__changed",
        when(col("__prev_fp").isNotNull && col("__prev_fp") =!= col("fp"),
          1L).otherwise(0L))
    val stats = flagged.groupBy(col("url")).agg(
      count(lit(1)).as("n_captures"),
      sum(col("__changed")).as("n_changes"),
      min(col("ts")).as("first_ts"),
      max(col("ts")).as("last_ts"))
    stats
      .withColumn("est_interval_ms",
        when(col("n_changes") === 0L, lit(maxIntervalMs))
          .otherwise(least(greatest(
            expr("(last_ts - first_ts) div n_changes"),
            lit(minIntervalMs)), lit(maxIntervalMs))))
      .withColumn("next_fetch_ms", col("last_ts") + col("est_interval_ms"))
  }

  /** [[schedule]]'s `est_interval_ms` for one url's captures in memory:
    * (ts, fingerprint, tie) triples in any order. The crawl round runs
    * this on the capture window kept in the url's owner partition.
    */
  def estIntervalMs(
      captures: Seq[(Long, Long, Long)],
      minIntervalMs: Long, maxIntervalMs: Long): Long = {
    val byTime = captures.sortBy(c => (c._1, c._3))
    val changes = byTime.iterator.sliding(2).count(w => w.size == 2 && w(0)._2 != w(1)._2)
    if (changes == 0) maxIntervalMs
    else math.min(math.max((byTime.last._1 - byTime.head._1) / changes,
      minIntervalMs), maxIntervalMs)
  }

  /** [[schedule]] fed straight from a CDX capture index
    * ([[graft.sources.CdxLookup.entries]] / [[graft.sinks.Sinks.cdxIndex]]
    * rows: url, 14-digit UTC timestamp, content digest …) — the archive
    * sidecar IS a capture history, so a recrawl of an archived corpus
    * can derive its per-URL schedule without any extra state. The
    * content digest is the change fingerprint; the 14-digit timestamp is
    * UTC wall time by CDX convention ([[graft.sinks.Sinks.cdxIndex]]
    * renders it that way under ANY session timezone), so it converts to
    * epoch millis ARITHMETICALLY — date arithmetic on the yyyyMMdd
    * prefix plus the time-of-day fields. No timestamp parsing in the
    * session timezone (a to_timestamp/from_utc_timestamp round trip is
    * only exact in fixed-offset zones: near a DST transition the two
    * offsets differ and captures shift by an hour), at CDX's second
    * granularity.
    */
  def fromCdx(
      entries: DataFrame,
      minIntervalMs: Long, maxIntervalMs: Long): DataFrame = {
    val caps = entries.select(
      col("url"),
      graft.sources.CdxLookup.cdxTsToMs(col("ts")).as("cap_ms"),
      col("digest"),
      // total order within equal timestamps: digest then holding segment
      // (entries carry warc_file; cdxIndex-only frames may not — the
      // digest alone still makes repeated identical captures stable)
      concat_ws("|", col("digest"),
        if (entries.columns.contains("warc_file")) col("warc_file")
        else lit("")).as("cap_tie"))
    schedule(caps, "url", "cap_ms", "digest", "cap_tie",
      minIntervalMs, maxIntervalMs)
  }
}
