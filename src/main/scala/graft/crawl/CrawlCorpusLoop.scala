package graft.crawl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CorpusIngest

/** The capstone composition: a wave-driven continuous crawl feeding a
  * training corpus through ALL THREE standing stores — the durable
  * frontier ([[FrontierStore]]), the signature index
  * ([[graft.operators.SignatureIndexStore]]) and the ANN index
  * ([[graft.operators.AnnIndexStore]], via [[CorpusIngest.AnnGate]]) —
  * plus, with `lineage = true`, the dedup-lineage
  * [[graft.operators.LabelStore]] as a fourth —
  * under ONE durable wave protocol, so the whole loop can be killed at
  * any point and resumed with no re-fetch of completed waves, no
  * re-accepted documents, and no duplicate store appends. This is the
  * reference's continuous-crawl recurrence (CrawlTopologyBuilder's
  * iteration + CrawlTool.java:60-64 checkpointed state) composed with
  * the corpus-ingest loop the stores exist for.
  *
  * Layout under `workDir`:
  * {{{
  *   frontier/              FrontierStore root (merge-on-read, versioned)
  *   sig/                   SignatureIndexStore root
  *   <annGate.root>         AnnIndexStore root (caller-placed)
  *   parsed/w=N/            wave N's parsed pages, STAGED before any commit
  *   frontier_updates/w=N/  wave N's post-crawl frontier, staged with it
  *   corpus/w=N/            wave N's ACCEPTED docs (doc_id, url, text)
  *   _merged_N              marker: wave N's frontier merge committed
  *   _wave_N                marker: wave N fully complete
  * }}}
  *
  * Idempotence argument, stage by stage (each wave = crawl → stage →
  * merge → ingest → mark; a crash re-runs the wave from the top and every
  * stage either skips via its marker or redoes the same work):
  *
  *  - '''crawl+stage''': nothing durable is touched until BOTH staging
  *    writes carry `_SUCCESS` (parsed first, then frontier updates — the
  *    updates' `_SUCCESS` is the stage gate). A crash mid-crawl re-crawls
  *    the SAME frontier slice, because the frontier store has not moved.
  *  - '''merge''': `FrontierStore.mergeInto` of the staged updates, then
  *    the `_merged_N` pointer. Re-merging the same updates is a semantic
  *    no-op (already-FETCHED rows win the merge), so the unmarked-crash
  *    replay is safe; the marker only saves the redundant pass.
  *  - '''ingest''': [[CorpusIngest.ingestIndexed]] with `batchId = N` —
  *    both stores' commit markers fence a crashed append (`belowBatch`
  *    hides the partial batch from its own retry), and a COMPLETED
  *    append re-run overwrites the same batch dir before re-marking, so
  *    replays converge to the identical store state.
  *  - '''corpus write + `_wave_N`''': the accepted set is a pure function
  *    of the staged parsed docs and the stores below `N`, so rewriting
  *    it after a crash reproduces the same rows.
  *
  * At 100 TB the protocol is what matters: per wave, everything written
  * is wave-sized (staged parquet, batch-sized store appends); the
  * stores are never rewritten, and resume cost is one marker listing.
  */
object CrawlCorpusLoop {

  final case class WaveResult(wave: Int, crawled: Boolean, accepted: Long)

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, p: String): Boolean =
    fs(spark, p).exists(new Path(p))

  /** Run waves `0 until waves`, resuming over whatever a previous
    * (possibly killed) run left in `workDir`. `onStage` fires after each
    * durable step — `"staged"`, `"merged"`, `"ingested"`, `"done"` with
    * the wave number — for progress logging (and for specs to inject a
    * kill at a chosen seam).
    */
  def run(
      spark: SparkSession,
      workDir: String,
      seeds: Seq[(String, Float)],
      pageFetcher: Fetcher,
      robotsFetcher: Fetcher,
      waves: Int,
      crawlCfg: CrawlConfig = CrawlConfig(maxRounds = 2),
      ingestCfg: CorpusIngest.Config = CorpusIngest.Config(),
      annGate: Option[CorpusIngest.AnnGate] = None,
      /** When true the loop maintains the FOURTH standing store too: a
        * [[graft.operators.LabelStore]] at `workDir/labels` receiving
        * every wave's dedup lineage (within-batch, cross-vs-standing,
        * semantic). Folds ride the same `batchId = wave` fence as the
        * index appends, so the kill/resume idempotence argument extends
        * unchanged.
        */
      lineage: Boolean = false,
      onStage: (Int, String) => Unit = (_, _) => ()): Seq[WaveResult] =
    (0 until waves).map { w =>
      runWave(spark, workDir, seeds, pageFetcher, robotsFetcher, w,
        crawlCfg, ingestCfg, annGate, lineage, onStage)
    }

  def runWave(
      spark: SparkSession,
      workDir: String,
      seeds: Seq[(String, Float)],
      pageFetcher: Fetcher,
      robotsFetcher: Fetcher,
      wave: Int,
      crawlCfg: CrawlConfig,
      ingestCfg: CorpusIngest.Config,
      annGate: Option[CorpusIngest.AnnGate],
      lineage: Boolean,
      onStage: (Int, String) => Unit): WaveResult = {
    val f = fs(spark, workDir)
    f.mkdirs(new Path(workDir))
    val parsedDir = s"$workDir/parsed/w=$wave"
    val updatesDir = s"$workDir/frontier_updates/w=$wave"
    val corpusDir = s"$workDir/corpus/w=$wave"
    if (exists(spark, s"$workDir/_wave_$wave"))
      // resolve through the slice's LIVE version (liveReadPath, like
      // corpus()): a retention rewrite may have versioned this slice
      // since the wave committed — a plain dir read would either throw
      // on the mixed-depth layout (crashed first rewrite) or double-count
      // a flipped-but-undeleted original
      return WaveResult(wave, crawled = false,
        spark.read.parquet(
          graft.util.SliceRewrite.liveReadPath(f, corpusDir)).count())

    // 1. crawl + stage (skipped when a previous attempt staged fully)
    var crawled = false
    if (!exists(spark, s"$updatesDir/_SUCCESS")) {
      val initial = FrontierStore.read(spark, s"$workDir/frontier")
      val result = CrawlTopology.run(
        spark, seeds, pageFetcher, robotsFetcher,
        // the loop owns frontier durability — the topology run itself
        // stays in-memory so a crashed wave leaves the store untouched
        crawlCfg.copy(frontierRoot = None),
        initialFrontier = initial)
      result.parsed
        .select(xxhash64(col("url")).as("doc_id"), col("url"), col("text"))
        .write.mode("overwrite").parquet(parsedDir)
      val fCols = Seq("url", "pld", "status", "statusTime", "score",
        "nextFetchTime")
      // stage only CHANGED rows: the in-memory run returns the whole
      // merged frontier, but re-merging rows the store already holds is
      // a no-op that would still mark every bucket dirty — the except
      // keeps the staged updates (and the merge's bucket rewrite)
      // wave-sized, not frontier-sized
      val updates = initial match {
        case None => result.frontier.select(fCols.map(col): _*)
        case Some(prev) => result.frontier.select(fCols.map(col): _*)
          .except(prev.select(fCols.map(col): _*))
      }
      updates.write.mode("overwrite").parquet(updatesDir)
      crawled = true
    }
    onStage(wave, "staged")

    // 2. frontier merge (idempotent; the marker saves the redundant pass)
    if (!exists(spark, s"$workDir/_merged_$wave")) {
      FrontierStore.mergeInto(spark, s"$workDir/frontier",
        spark.read.parquet(updatesDir), crawlCfg.frontierBuckets)
      graft.util.FsAtomic.writePointer(
        f, new Path(workDir), s"_merged_$wave", "done")
    }
    onStage(wave, "merged")

    // 3. ingest into the signature (+ optional ANN) store, batchId = wave
    val docs = spark.read.parquet(parsedDir)
    val (accepted, _) = CorpusIngest.ingestIndexed(
      docs, "doc_id", "text", s"$workDir/sig", wave.toLong, ingestCfg,
      annGate,
      labelsRoot = if (lineage) Some(s"$workDir/labels") else None)
    onStage(wave, "ingested")

    // 4. accepted docs become the corpus slice; the wave marker commits
    // (payload passthrough in ingestIndexed carries `url` through)
    accepted
      .select("doc_id", "url", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val n = spark.read.parquet(corpusDir).count()
    graft.util.FsAtomic.writePointer(
      f, new Path(workDir), s"_wave_$wave", "done")
    onStage(wave, "done")
    WaveResult(wave, crawled, n)
  }

  /** Incremental ARCHIVE-snapshot round mode — [[SnapshotDelta]] wired
    * into the wave loop (the composition its own doc promises): wave `w`
    * consumes one monthly-snapshot-style archive (WARC dir + CDX
    * sidecar, the reference's CommonCrawl model,
    * `CommonCrawlFetcher.java:50-135`). When wave `w-1` recorded a
    * sidecar (`_cdx_<w-1>` pointer), the round:
    *
    *  1. diffs the two sidecars ([[SnapshotDelta.fromCdx]]) and fetches
    *     ONLY the ADDED ∪ CHANGED keys from the new archive —
    *     [[graft.sources.CdxLookup.fetch]]-pruned below `maxLookup`
    *     urls, a batch semi-join above (the
    *     [[ArchiveFetch.cdxRoutedStage]] size switch). UNCHANGED
    *     content is never read, let alone re-ingested.
    *  2. marks GONE urls `HTTP_GONE` in the frontier (terminal-recency
    *     merge: the mark wins over the stored FETCHED row) — the
    *     retirement feed [[retirementCandidates]] exposes for
    *     [[graft.operators.Takedown]].
    *  3. ingests the fetched docs (`batchId = wave`) and commits the
    *     corpus slice + `_cdx_<w>` pointer + `_wave_<w>` marker.
    *
    * The first wave (no previous sidecar) ingests the whole archive.
    * Same staging/marker protocol as [[runWave]]: kill anywhere, re-run
    * resumes idempotently. Equivalence with a full recrawl is spec-
    * pinned (ArchiveLoopSpec): UNCHANGED re-fetches would be dropped by
    * the cross-dedup against the standing signature index anyway — the
    * incremental round just refuses to pay for fetching them.
    */
  def runArchiveWave(
      spark: SparkSession,
      workDir: String,
      wave: Int,
      warcDir: String,
      cdxDir: String,
      ingestCfg: CorpusIngest.Config = CorpusIngest.Config(),
      annGate: Option[CorpusIngest.AnnGate] = None,
      lineage: Boolean = false,
      maxLookup: Int = 256,
      frontierBuckets: Int = 64,
      onStage: (Int, String) => Unit = (_, _) => ()): WaveResult = {
    import graft.schema.{FetchStatus => FS}
    import graft.sources.CdxLookup
    val f = fs(spark, workDir)
    f.mkdirs(new Path(workDir))
    val parsedDir = s"$workDir/parsed/w=$wave"
    val goneDir = s"$workDir/gone/w=$wave"
    val corpusDir = s"$workDir/corpus/w=$wave"
    if (exists(spark, s"$workDir/_wave_$wave"))
      // live-version resolution, mirroring corpus() — see runWave's
      // early return for why a plain dir read is wrong after a
      // retention rewrite touched (or crashed on) this slice
      return WaveResult(wave, crawled = false,
        spark.read.parquet(
          graft.util.SliceRewrite.liveReadPath(f, corpusDir)).count())
    // most recent recorded sidecar, scanning past waves that recorded
    // none (takedown slots, pre-archive live waves) — a lifecycle slot
    // must not silently demote the next round to a full re-read
    val prevCdx = ((wave - 1) to 0 by -1).view
      .flatMap(k => graft.util.StoreProtocol.readSmall(
        f, new Path(workDir, s"_cdx_$k")))
      .headOption.map(_.trim)

    def latestUrls(entries: DataFrame) = entries
      .groupBy(col("surt"))
      .agg(max(struct(col("ts"), col("url"))).as("cap"))
      .select(col("surt"), col("cap.url").as("url"))

    // 1. stage the round's fetch set (+ the GONE set) — nothing durable
    // moves until both stagings carry _SUCCESS; the gone set lands
    // FIRST, so the parsed _SUCCESS (checked here) is the stage gate
    var crawled = false
    if (!exists(spark, s"$parsedDir/_SUCCESS")) {
      val newEntries = CdxLookup.allEntries(spark, cdxDir)
        .localCheckpoint(true)
      val records = prevCdx match {
        case None =>
          // first snapshot: whole-archive round, empty GONE set
          spark.range(0).select(lit("").as("url")).limit(0)
            .write.mode("overwrite").parquet(goneDir)
          graft.sources.WarcSource.read(spark, warcDir)
        case Some(oldDir) =>
          val oldEntries = CdxLookup.allEntries(spark, oldDir)
            .localCheckpoint(true)
          val delta = SnapshotDelta.fromCdx(oldEntries, newEntries)
            .localCheckpoint(true)
          delta.filter(col("verdict") === "GONE")
            .select(col("key").as("surt"))
            .join(latestUrls(oldEntries), Seq("surt"))
            .select("url")
            .write.mode("overwrite").parquet(goneDir)
          val wantedUrls = SnapshotDelta.toIngest(delta)
            .select(col("key").as("surt"))
            .join(latestUrls(newEntries), Seq("surt"))
            .select("url").localCheckpoint(true)
          // size switch: bounded probe, never a full count
          val probe = wantedUrls.limit(maxLookup + 1)
            .collect().map(_.getString(0))
          if (probe.length <= maxLookup)
            CdxLookup.fetch(spark, warcDir, cdxDir, probe.toSeq)._1
          else graft.sources.WarcSource.read(spark, warcDir)
            .join(wantedUrls, Seq("url"), "left_semi")
      }
      ArchiveFetch.newestPerUrl(records)
        .filter(col("statusCode").between(200, 299))
        .select(xxhash64(col("url")).as("doc_id"), col("url"),
          col("content").as("text"))
        .write.mode("overwrite").parquet(parsedDir)
      crawled = true
    }
    onStage(wave, "staged")

    // 2. frontier marks: FETCHED for this round's captures, HTTP_GONE
    // for vanished keys. The round's logical clock is the new snapshot's
    // newest capture time, so the terminal-recency merge lets the marks
    // win over earlier rounds' rows (and replays merge identically).
    if (!exists(spark, s"$workDir/_merged_$wave")) {
      val roundMs = CdxLookup.allEntries(spark, cdxDir)
        .agg(max(CdxLookup.cdxTsToMs(col("ts")))).head().getLong(0)
      val updates = spark.read.parquet(parsedDir).select("url")
        .withColumn("status", lit(FS.FETCHED))
        .unionByName(spark.read.parquet(goneDir).select("url")
          .withColumn("status", lit(FS.HTTP_GONE)))
        .select(col("url"),
          graft.plans.UrlExpressions.extract_pld(col("url")).as("pld"),
          col("status"),
          lit(roundMs).as("statusTime"), lit(0.0f).as("score"),
          lit(roundMs).as("nextFetchTime"))
      FrontierStore.mergeInto(spark, s"$workDir/frontier", updates,
        frontierBuckets)
      graft.util.FsAtomic.writePointer(
        f, new Path(workDir), s"_merged_$wave", "done")
    }
    onStage(wave, "merged")

    // 3. ingest into the standing stores, batchId = wave
    val docs = spark.read.parquet(parsedDir)
    val (accepted, _) = CorpusIngest.ingestIndexed(
      docs, "doc_id", "text", s"$workDir/sig", wave.toLong, ingestCfg,
      annGate,
      labelsRoot = if (lineage) Some(s"$workDir/labels") else None)
    onStage(wave, "ingested")

    // 4. corpus slice + sidecar pointer + wave marker (payload
    // passthrough in ingestIndexed carries `url` through)
    accepted
      .select("doc_id", "url", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val n = spark.read.parquet(corpusDir).count()
    graft.util.FsAtomic.writePointer(
      f, new Path(workDir), s"_cdx_$wave", cdxDir)
    graft.util.FsAtomic.writePointer(
      f, new Path(workDir), s"_wave_$wave", "done")
    onStage(wave, "done")
    WaveResult(wave, crawled, n)
  }

  /** Run a takedown as a dedicated WAVE SLOT of this loop: the delete
    * set propagates through the loop's corpus slices and standing
    * stores ([[graft.operators.Takedown]]'s journal protocol) with every
    * store's retirement batch id pinned to `wave` — the loop allocates
    * store batch ids from its wave counter, so giving the retirement its
    * own slot is what keeps later waves' appends from ever colliding
    * with the tombstone batch (the stores refuse such an overwrite
    * loudly; this keeps it from arising at all). Marks `_wave_<wave>`
    * so the wave sequence stays dense for resume. Typical feed:
    * [[retirementCandidates]] after a grace period.
    */
  def takedownWave(
      spark: SparkSession, workDir: String, ids: DataFrame, idCol: String,
      wave: Int, annRoot: Option[String] = None,
      lineage: Boolean = false,
      /** When set (naming a url column on `ids`), the urls are also
        * PURGED from the frontier journal ([[FrontierStore.retire]]) —
        * the full right-to-be-forgotten reach: corpus + indexes + crawl
        * state. [[retirementCandidates]] rows carry both columns, so
        * `urlCol = Some("url")` completes the loop (and empties the
        * candidate feed for the processed urls).
        */
      urlCol: Option[String] = None): Long = {
    val f = fs(spark, workDir)
    val pinned = ids.localCheckpoint(true)
    val tid = graft.operators.Takedown.takedown(spark, pinned, idCol,
      graft.operators.Takedown.Targets(
        corpusDir = Some(s"$workDir/corpus"),
        corpusPartitionCol = "w",
        sigRoot = Some(s"$workDir/sig"),
        annRoot = annRoot,
        labelsRoot = if (lineage) Some(s"$workDir/labels") else None),
      s"$workDir/takedowns",
      retireBatchId = Some(wave.toLong))
    // the slot marker lands IMMEDIATELY after the store-batch-consuming
    // step: once the stores hold tombstones at batch `wave`, the slot
    // must never be reused by a later DATA wave (the stores would refuse
    // the append and wedge the loop). A crash between here and the
    // frontier purge leaves the GONE rows in the journal — the next
    // retention sweep re-derives them and re-fires into a FRESH slot,
    // whose store retire of already-dead ids is a harmless no-op.
    graft.util.FsAtomic.writePointer(
      f, new Path(workDir), s"_wave_$wave", "takedown")
    urlCol.foreach(u =>
      FrontierStore.retire(spark, s"$workDir/frontier", pinned, u))
    tid
  }

  /** GONE-derived retirement candidates accumulated in the frontier — the
    * [[graft.operators.Takedown]] feed: (url, doc_id, gone_since). A URL
    * re-captured by a later round flips back to FETCHED (terminal
    * recency) and drops out of this set on its own.
    */
  def retirementCandidates(spark: SparkSession, workDir: String): DataFrame =
    FrontierStore.read(spark, s"$workDir/frontier")
      .map(_.filter(col("status") === graft.schema.FetchStatus.HTTP_GONE)
        .select(col("url"), xxhash64(col("url")).as("doc_id"),
          col("statusTime").as("gone_since")))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("url",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("gone_since",
            org.apache.spark.sql.types.LongType)))))

  /** The corpus accumulated so far: every completed wave's accepted docs
    * (takedown wave slots have no corpus slice and are skipped).
    */
  def corpus(spark: SparkSession, workDir: String): DataFrame = {
    val f = fs(spark, workDir)
    val done = Option(f.globStatus(new Path(workDir, "_wave_*")))
      .getOrElse(Array.empty)
      .map(_.getPath.getName.stripPrefix("_wave_").toInt).sorted
    // a slice a takedown has rewritten serves from its live sv= version
    // (graft.util.SliceRewrite) — resolve per slice; untouched slices
    // read plain
    val dirs = done.map(w => s"$workDir/corpus/w=$w")
      .filter(d => f.exists(new Path(d)))
      .map(d => graft.util.SliceRewrite.liveReadPath(f, d))
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("url",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
    else spark.read.parquet(dirs: _*)
  }
}
