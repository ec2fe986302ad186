package graft.crawl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.UrlFunctions
import graft.plans.UrlExpressions.extract_pld
import graft.schema.{FetchStatus => FS}
import graft.util.StoreProtocol

/** What the retention sweep may retire. Every knob is opt-in (None =
  * that rule never fires); times are milliseconds on the LOOP's logical
  * clock (the newest capture time of the round's CDX sidecar), never
  * the wall clock — sweeps replay deterministically on resume.
  *
  * Reference tie: the reference exposes the SCHEDULING half of this as
  * recrawl knobs (`CrawlToolOptions.java:12` default fetch interval)
  * and recency-driven state merges (`DefaultUrlStateMerger.java:42`);
  * the deletion half it declared but never built
  * (`UrlDBFunction.java:76,467` `_archivedUrls`). This config drives
  * both: when to give up on a URL, and what giving up deletes.
  */
final case class RetentionConfig(
  /** Purge a GONE url only after it has been gone this long — the grace
    * period that keeps a transiently-missing capture (CDN hiccup, one
    * bad snapshot) out of the takedown path. A url re-captured inside
    * the grace flips back to FETCHED and leaves the candidate set on
    * its own (terminal recency).
    */
  goneGraceMs: Option[Long] = None,
  /** Freshness-bounded corpus: retire documents whose last successful
    * fetch is older than this — "content not re-fetched (i.e. not
    * changed) in T leaves the corpus". The knob for pipelines that keep
    * only recent captures; leave None for archival corpora.
    */
  maxAgeMs: Option[Long] = None,
  /** Robots revocation: re-check robots.txt for every FETCHED url at
    * sweep time through this fetcher; urls whose path is NEWLY
    * disallowed become candidates — a site that tightened its
    * robots.txt gets its already-crawled pages deleted, not just
    * future fetches skipped (RFC 9309 is forward-looking; this knob is
    * the right-to-be-forgotten reading).
    *
    * DELETION REQUIRES AFFIRMATIVE EVIDENCE: only a successfully
    * fetched (2xx) robots.txt whose parsed rules disallow the path
    * revokes. An unreachable / 5xx robots.txt is INDETERMINATE and
    * never deletes — note the deliberate asymmetry with the crawl path,
    * where the same state conservatively blocks FETCHING
    * ([[RobotsRules.allowNone]]): "don't fetch while unsure" is safe,
    * "delete the corpus while unsure" is not (a transient outage would
    * mass-purge a host irreversibly). A 404 (no robots.txt) allows all,
    * so it never revokes either.
    */
  robotsFetcher: Option[Fetcher] = None,
  /** Pool width for the robots re-check's per-partition drain
    * ([[graft.util.Pooled]]); a 10k-host sweep is network-bound exactly
    * like the crawl's robots gate (reference: 10 threads). 1 = serial.
    */
  robotsThreads: Int = 10)

/** Turns the deletion MACHINERY ([[graft.operators.Takedown]],
  * [[CrawlCorpusLoop.takedownWave]], the stores' retire paths) into an
  * autonomous lifecycle POLICY: each archive round derives its
  * retirement candidates from observable state — the frontier journal's
  * GONE ages, last-fetch ages, and a live robots re-check — and fires a
  * takedown wave when the set is non-empty. The loop that could only
  * grow (and since round 12 could forget when TOLD to) now forgets on
  * schedule.
  *
  * Scale shape: every candidate source is one pass over the frontier
  * journal (merge-on-read, bucket files — frontier-sized, the smallest
  * standing state the loop owns), and the takedown cost stays
  * delete-set-bounded through the existing machinery. The robots
  * re-check repartitions the FETCHED urls by host and memoizes rules
  * per partition, so robots.txt is fetched once per (host, sweep) —
  * NOT through the JVM-wide [[RobotsCache]] (a sweep must see the
  * CURRENT rules, and its status stance differs: indeterminate answers
  * block fetching there but must never DELETE here — see
  * [[RobotsRules.fromPage]] and [[RetentionConfig.robotsFetcher]]).
  */
object RetentionPolicy {

  final case class SweepResult(wave: Int, retired: Long)

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Completed wave slots (dense by protocol), ascending. */
  def completedWaves(spark: SparkSession, workDir: String): Seq[Int] =
    Option(fs(spark, workDir).globStatus(new Path(workDir, "_wave_*")))
      .getOrElse(Array.empty)
      .map(_.getPath.getName.stripPrefix("_wave_").toInt).sorted.toSeq

  /** The next free wave slot. */
  def nextSlot(spark: SparkSession, workDir: String): Int =
    completedWaves(spark, workDir).lastOption.map(_ + 1).getOrElse(0)

  /** The loop's logical clock: the newest capture time in the most
    * recent archive wave's recorded sidecar. None before any archive
    * wave completed.
    */
  def loopClock(spark: SparkSession, workDir: String): Option[Long] = {
    val f = fs(spark, workDir)
    completedWaves(spark, workDir).reverse.view
      .flatMap(w => StoreProtocol.readSmall(f, new Path(workDir, s"_cdx_$w")))
      .headOption.map(_.trim)
      .map(cdxDir => graft.sources.CdxLookup.allEntries(spark, cdxDir)
        .agg(max(graft.sources.CdxLookup.cdxTsToMs(col("ts"))))
        .head().getLong(0))
  }

  private val candSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("url",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("reason",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("since",
      org.apache.spark.sql.types.LongType)))

  private def emptyCands(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], candSchema)

  /** The sweep's candidate set at logical time `nowMs`:
    * (url, doc_id, reason, since) with one row per url (a url claimed by
    * several rules reports the highest-priority reason:
    * gone_aged > robots_revoked > expired). Pure derivation — no state
    * moves; [[sweep]] is the consumer that acts on it.
    */
  def candidates(
      spark: SparkSession, workDir: String, cfg: RetentionConfig,
      nowMs: Long): DataFrame =
    candidatesForFrontier(spark, s"$workDir/frontier", cfg, nowMs)

  /** [[candidates]] against an explicit frontier-journal root (the loop
    * layout puts it at `workDir/frontier`; standalone stores and
    * benches point here directly).
    */
  def candidatesForFrontier(
      spark: SparkSession, frontierRoot: String, cfg: RetentionConfig,
      nowMs: Long): DataFrame =
    FrontierStore.read(spark, frontierRoot) match {
      case None => emptyCands(spark)
      case Some(frontier) =>
        // deliberately NOT checkpointed: the journal is frontier-sized
        // (the one state that scales with the whole crawl), so pinning
        // it in executor block storage would be the scale hazard. Each
        // armed rule re-runs the merge-on-read scan instead — at most
        // three bounded passes over bucket files, usually one or two
        val fr = frontier.select("url", "status", "statusTime")
        // the two AGE rules are time-banded scans ("statusTime older
        // than the cutoff"): route them through the store's `_SKIP`
        // sidecars so bucket files whose whole statusTime range is
        // fresher than the cutoff are never OPENED — on a frontier
        // where most buckets churn recently, the sweep's steady-state
        // read drops from every-bucket-file to the old-holding few
        // (sidecar-less buckets read unpruned; rows are identical to
        // the unbanded filter by prunedReadDirs' soundness contract)
        def agedBand(cutoff: Long): DataFrame =
          FrontierStore.readBanded(spark, frontierRoot, Seq(
            graft.operators.DataSkipping
              .ColRange("statusTime", Long.MinValue, cutoff)))
            .map(_._1.select("url", "status", "statusTime"))
            .getOrElse(fr.filter(col("statusTime") <= cutoff))
        val goneAged = cfg.goneGraceMs.map(grace =>
          agedBand(nowMs - grace)
          .filter(col("status") === FS.HTTP_GONE)
          .select(col("url"), col("statusTime").as("since"))
          .withColumn("reason", lit("gone_aged")))
        val expired = cfg.maxAgeMs.map(age =>
          agedBand(nowMs - age)
          .filter(col("status") === FS.FETCHED)
          .select(col("url"), col("statusTime").as("since"))
          .withColumn("reason", lit("expired")))
        val revoked = cfg.robotsFetcher.map { rf =>
          import spark.implicits._
          fr.filter(col("status") === FS.FETCHED)
            .select(col("url"), col("statusTime"))
            // co-locate each host's urls so one task fetches its
            // robots.txt once (per-partition memo below — NOT the
            // JVM-wide RobotsCache: a sweep must see the CURRENT rules,
            // and per-sweep scopes would leak entries into the global
            // map forever). Slot-count partitions EXPLICITLY: this seam
            // is latency-bound (live robots fetches), and AQE would
            // coalesce a small sweep's shuffle to one task, capping the
            // sweep at robotsThreads total concurrency
            .repartition(
              spark.sparkContext.defaultParallelism, extract_pld(col("url")))
            .as[(String, Long)]
            .mapPartitions { it =>
              // robotsUrl → Some(rules) when the answer is DEFINITIVE
              // ([[RobotsRules.fromPage]]), None when indeterminate
              // (5xx, unreachable) — indeterminate NEVER revokes (see
              // RetentionConfig.robotsFetcher); a malformed journal url
              // is likewise not a candidate (it was never fetchable).
              // The drain is pooled (cfg.robotsThreads): the memo is a
              // per-host single-flight inflight-future map (the
              // RobotsCache pattern) — one fetch per (host, sweep) under
              // a same-host burst, and NO fetch ever runs under a map
              // lock (computeIfAbsent would hold its bin lock for the
              // fetch's duration, serializing unrelated hosts that hash
              // to the same bin and defeating the pool).
              val memo = new java.util.concurrent.ConcurrentHashMap[
                String, java.util.concurrent.CompletableFuture[
                  Option[RobotsRules]]]()
              def rulesOf(rUrl: String): Option[RobotsRules] = {
                val mine = new java.util.concurrent.CompletableFuture[
                  Option[RobotsRules]]()
                val winner = memo.putIfAbsent(rUrl, mine)
                if (winner != null) winner.join()
                else
                  try {
                    val r = RobotsRules.fromPage(Fetcher.safeFetch(rf, rUrl))
                    mine.complete(r)
                    r
                  } finally {
                    // a throw (hostile page shape) must release waiters:
                    // indeterminate, which never revokes
                    if (!mine.isDone) mine.complete(None)
                  }
              }
              graft.util.Pooled.unordered(
                  it, cfg.robotsThreads, name = "retention-robots") {
                case (url, since) =>
                  val keep = scala.util.Try {
                    rulesOf(UrlFunctions.robotsUrl(url)).exists(r =>
                      !r.isAllowed(UrlFunctions.robotsPath(url)))
                  }.getOrElse(false)
                  (url, since, keep)
              }.collect { case (url, since, true) => (url, since) }
            }
            .toDF("url", "since")
            .withColumn("reason", lit("robots_revoked"))
        }
        val all = (goneAged.toSeq ++ revoked.toSeq ++ expired.toSeq)
        if (all.isEmpty) emptyCands(spark)
        else {
          val prio = when(col("reason") === "gone_aged", 0)
            .when(col("reason") === "robots_revoked", 1).otherwise(2)
          all.reduce(_ unionByName _)
            .withColumn("__p", row_number().over(
              Window.partitionBy(col("url")).orderBy(prio, col("since"))))
            .filter(col("__p") === 1).drop("__p")
            .select(col("url"), xxhash64(col("url")).as("doc_id"),
              col("reason"), col("since"))
        }
    }

  /** Semantic fingerprint of a retention config — the fields that shape
    * the CANDIDATE SET (pool width doesn't; the fetcher can't be
    * fingerprinted, so armed/disarmed is the recorded fact). Stored
    * next to a sweep's pin so an untouched pin under a since-changed
    * config is recognized as stale (see [[sweep]]).
    */
  private def configFingerprint(cfg: RetentionConfig): String =
    s"gone=${cfg.goneGraceMs} age=${cfg.maxAgeMs} " +
      s"robots=${cfg.robotsFetcher.isDefined}"

  /** True when any takedown journal entry pinned store-retirement batch
    * `w` — from that point the slot's delete set is committed machinery
    * (digest-guarded) and the sweep pin must be honored verbatim.
    */
  private def planReferencesSlot(
      spark: SparkSession, workDir: String, w: Int): Boolean = {
    val f = fs(spark, workDir)
    Option(f.globStatus(new Path(s"$workDir/takedowns", "td=*")))
      .getOrElse(Array.empty)
      .exists { st =>
        StoreProtocol.readSmall(f, new Path(st.getPath, "_PLAN"))
          .exists(_.linesIterator.exists { line =>
            val p = line.trim.split(' ')
            p.length == 2 && Set("sig", "ann", "labels")(p(0)) &&
              p(1) == w.toString
          })
      }
  }

  /** Run one retention sweep at logical time `nowMs`: derive the
    * candidates and, when non-empty, fire [[CrawlCorpusLoop
    * .takedownWave]] in the next free wave slot (corpus slices + all
    * standing stores + frontier purge). Returns the slot used and how
    * many urls were retired (wave -1 / 0 when nothing fired — the
    * common, zero-cost case: one frontier read, no writes).
    *
    * Crash-safe like the waves themselves: the candidate set is PINNED
    * under the slot (`_sweep_w=<w>/cands`) before anything fires, so a
    * kill anywhere inside the takedown wave re-fires into the same
    * still-unmarked slot with the IDENTICAL delete set — the stores'
    * digest-guarded retire re-runs are no-ops. Without the pin, a
    * re-derivation could legitimately differ (the robots rule answers
    * from the LIVE web; a site reverting its robots.txt between crash
    * and resume would change the set), and a different digest under the
    * committed batch id would wedge the takedown journal permanently.
    * A kill after the slot marker but before the frontier purge
    * re-derives into a FRESH slot instead (re-retiring already-dead ids
    * is harmless); completed slots' pins are reclaimed on the next
    * sweep. The marker lands right after the store-consuming step
    * precisely so a tombstoned batch id can never be handed to a later
    * data wave.
    */
  def sweep(
      spark: SparkSession, workDir: String, cfg: RetentionConfig,
      nowMs: Long, annRoot: Option[String] = None,
      lineage: Boolean = false): SweepResult = {
    val f = fs(spark, workDir)
    // reclaim pins of completed slots (their _wave marker exists)
    Option(f.globStatus(new Path(workDir, "_sweep_w=*")))
      .getOrElse(Array.empty).map(_.getPath).foreach { p =>
        val w = p.getName.stripPrefix("_sweep_w=")
        if (f.exists(new Path(workDir, s"_wave_$w"))) f.delete(p, true)
      }
    val w = nextSlot(spark, workDir)
    val slotDir = new Path(workDir, s"_sweep_w=$w")
    val pinDir = s"$workDir/_sweep_w=$w/cands"
    // an existing pin is BINDING once any takedown journal entry
    // references its slot (committed batch digests — a re-derivation
    // with a changed live answer would wedge the journal) and otherwise
    // ADVISORY: a crash right after the pin write, before anything was
    // consumed, must not force a delete set the operator has since
    // relaxed or disabled — the pin records its config fingerprint and
    // an untouched pin under a different config is discarded, re-derived
    // under the CURRENT rules
    val fp = configFingerprint(cfg)
    val pinExists = f.exists(new Path(pinDir, "_SUCCESS"))
    val pinBinding = pinExists && (
      StoreProtocol.readSmall(f, new Path(slotDir, "_CFG"))
        .map(_.trim).contains(fp) ||
      planReferencesSlot(spark, workDir, w))
    if (pinExists && !pinBinding) f.delete(slotDir, true)
    val cands =
      if (pinBinding)
        spark.read.parquet(pinDir).localCheckpoint(true)
      else {
        val derived = candidates(spark, workDir, cfg, nowMs)
          .localCheckpoint(true)
        if (derived.count() == 0L) return SweepResult(-1, 0L)
        derived.write.mode("overwrite").parquet(pinDir)
        graft.util.FsAtomic.writePointer(f, slotDir, "_CFG", fp)
        spark.read.parquet(pinDir).localCheckpoint(true)
      }
    val n = cands.count()
    CrawlCorpusLoop.takedownWave(spark, workDir, cands, "doc_id", w,
      annRoot = annRoot, lineage = lineage, urlCol = Some("url"))
    f.delete(new Path(workDir, s"_sweep_w=$w"), true)
    SweepResult(w, n)
  }

  /** The autonomous loop: consume archive snapshots in order, one wave
    * per snapshot, and run a retention sweep after each — the
    * GONE→grace→takedown lifecycle with nobody calling takedown by
    * hand. Resume-safe end to end: a snapshot whose sidecar some
    * completed wave already recorded is skipped (its wave result is
    * re-read, not re-run), a partially-staged wave resumes in place,
    * and an interrupted sweep re-derives and re-fires into the same
    * slot (see [[sweep]]).
    */
  def runRetentive(
      spark: SparkSession,
      workDir: String,
      /** (warcDir, cdxDir) per snapshot, oldest first. */
      snapshots: Seq[(String, String)],
      retention: RetentionConfig,
      ingestCfg: graft.operators.CorpusIngest.Config =
        graft.operators.CorpusIngest.Config(),
      annGate: Option[graft.operators.CorpusIngest.AnnGate] = None,
      lineage: Boolean = false,
      maxLookup: Int = 256,
      frontierBuckets: Int = 64,
      onStage: (Int, String) => Unit = (_, _) => ())
      : Seq[(CrawlCorpusLoop.WaveResult, SweepResult)] = {
    val f = fs(spark, workDir)
    snapshots.map { case (warcDir, cdxDir) =>
      // resume mapping: the sidecar pointer identifies a completed wave
      val done = completedWaves(spark, workDir).find(w =>
        StoreProtocol.readSmall(f, new Path(workDir, s"_cdx_$w"))
          .map(_.trim).contains(cdxDir))
      val w = done.getOrElse(nextSlot(spark, workDir))
      val res = CrawlCorpusLoop.runArchiveWave(spark, workDir, w, warcDir,
        cdxDir, ingestCfg, annGate, lineage, maxLookup, frontierBuckets,
        onStage)
      // the sweep runs on the round's own clock (deterministic replays).
      // This is a second scan of the round's CDX SIDECAR (index lines,
      // not archive bytes — runArchiveWave aggregated the same value for
      // its frontier marks); sidecar-sized, negligible next to the fetch
      val roundMs = graft.sources.CdxLookup.allEntries(spark, cdxDir)
        .agg(max(graft.sources.CdxLookup.cdxTsToMs(col("ts"))))
        .head().getLong(0)
      val swept = sweep(spark, workDir, retention, roundMs,
        annRoot = annGate.map(_.root), lineage = lineage)
      (res, swept)
    }
  }
}
