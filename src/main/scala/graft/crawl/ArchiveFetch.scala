package graft.crawl

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.schema.{FetchStatus => FS}

/** Batch page source: "fetching" against a stored page-archive snapshot
  * instead of the live web — the Spark-native equivalent of the reference's
  * CommonCrawl fetcher (…/flinkcrawler/fetcher/commoncrawl/
  * CommonCrawlFetcher.java:50-135: CDX secondary-index binary search +
  * WARC byte-range reads + segment LRU cache).
  *
  * In Spark the whole index-lookup machinery collapses into one equi-join:
  * the archive is a parquet table keyed by normalized URL, candidates join
  * against it, misses are 404s. Catalyst picks broadcast vs shuffle join by
  * size; at 100 TB the archive side is bucketed by url so the join is
  * co-partitioned with no cache tier to manage — the block manager and
  * parquet footer pruning replace SegmentCache.
  *
  * Archive schema: url (normalized), statusCode int, content string,
  * contentType string, redirectedTo string (nullable).
  */
object ArchiveFetch {

  /** Columnar HTTP-status -> FetchStatus mapping (reference
    * ExceptionUtils.java:19-61), the CASE-expression form of
    * [[graft.schema.FetchStatus.fromHttpStatus]].
    */
  def httpStatusToFetchStatusCol(code: Column): Column =
    when(code.isNull, FS.HTTP_NOTFOUND)
      .when(code.between(200, 299), FS.FETCHED)
      .when(code.isin(301, 308), FS.HTTP_MOVED)
      .when(code.isin(302, 303, 307), FS.HTTP_REDIRECTED)
      .when(code === 401, FS.HTTP_UNAUTHORIZED)
      .when(code === 403, FS.HTTP_FORBIDDEN)
      .when(code === 404, FS.HTTP_NOTFOUND)
      .when(code === 410, FS.HTTP_GONE)
      .when(code === 429, FS.HTTP_TOO_MANY_REQUESTS)
      .when(code.between(300, 399), FS.HTTP_REDIRECTED)
      .when(code.between(400, 499), FS.HTTP_CLIENT_ERROR)
      .when(code >= 500, FS.HTTP_SERVER_ERROR)
      .when(code === -2, FS.ERROR_INVALID_URL)
      .when(code === -3, FS.ABORTED_FETCH)
      .otherwise(FS.ERROR_IOEXCEPTION)

  /** Columnar inverse ([[graft.schema.FetchStatus.toHttpStatus]]): the
    * representative code a FetchStatus round-trips through an archive as.
    */
  def fetchStatusToHttpStatusCol(status: Column): Column =
    when(status === FS.FETCHED, 200)
      .when(status === FS.HTTP_MOVED, 301)
      .when(status === FS.HTTP_REDIRECTED, 302)
      .when(status === FS.HTTP_UNAUTHORIZED, 401)
      .when(status === FS.HTTP_FORBIDDEN, 403)
      .when(status === FS.HTTP_NOTFOUND, 404)
      .when(status === FS.HTTP_GONE, 410)
      .when(status === FS.HTTP_TOO_MANY_REQUESTS, 429)
      .when(status === FS.HTTP_CLIENT_ERROR, 400)
      .when(status === FS.HTTP_SERVER_ERROR, 500)
      .when(status === FS.ERROR_INVALID_URL, -2)
      .when(status === FS.ABORTED_FETCH, -3)
      .when(status === FS.ERROR_IOEXCEPTION, -1)
      .otherwise(0)

  /** Fetch stage backed by an archive table: one left equi-join on url.
    * Returns the same FetchOutcome rows the live mapPartitions fetcher
    * produces, so the topology is source-agnostic.
    */
  def stage(archive: DataFrame)(
      allowed: Dataset[RobotsVerdict]): Dataset[FetchOutcome] = {
    val spark = allowed.sparkSession
    import spark.implicits._
    val status = httpStatusToFetchStatusCol(col("statusCode"))
    allowed.toDF()
      .join(
        archive.select(
          col("url"), col("statusCode"), col("content"),
          col("contentType"), col("redirectedTo")),
        Seq("url"), "left")
      .select(
        col("url"), col("pld"),
        status.as("status"),
        col("score"),
        col("crawlDelay"),
        when(status === FS.FETCHED, coalesce(col("content"), lit("")))
          .otherwise(lit("")).as("content"),
        coalesce(col("contentType"), lit("text/plain")).as("contentType"),
        coalesce(col("redirectedTo"), lit("")).as("redirectedTo"))
      .as[(String, String, String, Float, Long, String, String, String)]
      // archives store decoded text; re-encode with the DECLARED charset
      // (strict — falls back to UTF-8 + contentType rewrite when the
      // charset can't represent the text, never '?'-substitution) so the
      // parse stage's decode is the identity — one narrow map after the
      // columnar join, no extra shuffle
      .map { case (url, pld, st, score, delay, content, ct, redir) =>
        val (bytes, ct2) =
          graft.functions.UrlFunctions.encodeForFetch(content, ct)
        FetchOutcome(url, pld, st, score, delay, bytes, ct2, redir)
      }
  }

  /** Build an archive frame from a WARC directory (as written by
    * [[graft.sinks.Sinks.writeWarc]] / `writeWarcContent`) — the glue that
    * closes the reference's CommonCrawl replay loop (archive → fetch →
    * parse, …/fetcher/commoncrawl/CommonCrawlFetcher.java:50-135): crawl A
    * archives through `CrawlConfig.contentSink`, crawl B re-crawls with
    * `fetchStage = ArchiveFetch.stage(ArchiveFetch.fromWarc(spark, dir))`.
    * A page archived more than once (recrawl rounds) keeps its newest
    * record so the join stays 1:1 on url.
    *
    * Fidelity: records carry the real archived status code and redirect
    * target (the contentSink tap archives every fetch ATTEMPT, not just
    * 200s), so replay reconstructs redirects/404s/errors exactly — parity
    * with the reference CommonCrawlFetcher, which replays archived status
    * codes. "Newest" is decided by the millisecond fetch time stamped in
    * the record (`WARC-Graft-Fetch-Ms`), not the second-resolution
    * WARC-Date — two recrawls inside one second still pick the later
    * fetch; (warcDate, content) stay as deterministic tie-breaks for
    * legacy records without the stamp.
    */
  def fromWarc(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    newestPerUrl(graft.sources.WarcSource.read(spark, path))

  /** Collapse raw WARC records ([[graft.sources.WarcSource.read]] schema)
    * to the newest capture per url, projected to the archive schema —
    * shared by the whole-archive and CDX-pruned routes so both produce
    * identical fetch results for the same url set.
    */
  def newestPerUrl(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val newest = Window.partitionBy(col("url"))
      .orderBy(col("fetchTimeMs").desc, col("warcDate").desc,
        col("content").asc)
    records
      .withColumn("rn", row_number().over(newest))
      .filter(col("rn") === 1)
      .select(col("url"), col("statusCode"), col("content"),
        col("contentType"),
        when(col("redirectedTo") === "", lit(null).cast("string"))
          .otherwise(col("redirectedTo")).as("redirectedTo"))
  }

  /** Which path a [[cdxRoutedStage]] round took, for specs/benches. */
  final case class FetchRoute(
    pruned: Boolean, stats: Option[graft.sources.CdxLookup.LookupStats])

  /** Size-switched archive fetch — the reference's actual CommonCrawl
    * usage (CommonCrawlFetcher.java:89: per-URL secondary-index lookups,
    * never a full-archive pass) for TRICKLE rounds, the batch join for
    * big ones:
    *
    *  - round fetch set ≤ `maxLookup` AND a CDX sidecar exists → the
    *    [[graft.sources.CdxLookup.fetch]] pruned path: only the CDX
    *    shards and WARC segments the URLs live in are opened. At the
    *    reference's ~1 GB segment sizes a full scan per trickle round
    *    reads the whole archive; the pruned path reads a handful of
    *    files (PERF_NOTES "CDX-pruned archive lookup": segment size is
    *    the lever, not row count).
    *  - bigger rounds (or no sidecar) → [[fromWarc]]'s batch equi-join,
    *    which beats per-key lookups once the fetch set is a meaningful
    *    fraction of the archive.
    *
    * The route decision costs one bounded probe (`maxLookup + 1` urls)
    * against the pinned verdict set — never a full count. Each round's
    * decision is appended to `routeLog` (driver-side; the stage closure
    * runs on the driver when the topology wires the round's plan).
    */
  def cdxRoutedStage(
      spark: org.apache.spark.sql.SparkSession,
      warcDir: String, cdxDir: String, maxLookup: Int = 256,
      routeLog: Option[scala.collection.mutable.Buffer[FetchRoute]] = None)(
      allowed: Dataset[RobotsVerdict]): Dataset[FetchOutcome] = {
    import spark.implicits._
    val cdxPath = new org.apache.hadoop.fs.Path(cdxDir)
    val fs = cdxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val haveCdx = fs.exists(cdxPath) &&
      fs.listStatus(cdxPath).exists(_.getPath.getName.startsWith("part-"))
    // pin once: the probe below and the fetch join both read the verdicts
    // without recomputing the robots stage
    val pinned = allowed.localCheckpoint(true)
    val probe = pinned.select("url").limit(maxLookup + 1).as[String].collect()
    if (haveCdx && probe.length <= maxLookup) {
      val (records, st) = graft.sources.CdxLookup.fetch(
        spark, warcDir, cdxDir, probe.toSeq)
      routeLog.foreach(_ += FetchRoute(pruned = true, Some(st)))
      stage(newestPerUrl(records))(pinned)
    } else {
      routeLog.foreach(_ += FetchRoute(pruned = false, None))
      stage(fromWarc(spark, warcDir))(pinned)
    }
  }

  /** Materialize a WebGraph fixture as an archive table — lets tests prove
    * live-fetch and archive-fetch topologies produce identical frontiers.
    */
  def archiveFromGraph(
      spark: org.apache.spark.sql.SparkSession,
      graph: WebGraph,
      redirects: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val fetcher = new WebGraphFetcher(graph, redirects)
    val rows = (graph.allUrls ++ redirects.keys).distinct.map { url =>
      val p = fetcher.fetch(url)
      (url, p.statusCode, p.content, p.contentType, p.redirectedTo.orNull)
    }
    rows.toDF("url", "statusCode", "content", "contentType", "redirectedTo")
  }
}
