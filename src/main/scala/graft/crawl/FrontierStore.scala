package graft.crawl

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.UrlStateMerger

/** Durable frontier storage: the crawl DB as a pld-bucketed parquet table
  * with **partition-level merge-on-read** (SURVEY §2.12/§7.4: at cluster
  * scale the frontier lives as a table, not operator state — "billions of
  * URLs" becomes a storage problem, not a state-backend problem).
  *
  * Layout: each commit writes the buckets it rewrites under ONE
  * generation directory `<root>/g<N>/bucket=<b>/part-*.parquet` — the
  * partitioned Spark write lands DIRECTLY in its final location, so the
  * commit step is a manifest write plus a single `_LATEST` pointer flip
  * (no per-bucket renames: the pre-round-17 layout renamed each of B
  * staged bucket dirs into place, B driver round trips on the commit
  * critical path — the fixed per-round cost LiveCrawlBench measured as
  * the live-crawl throughput limiter). A manifest `_MANIFEST_v<N>` maps
  * each bucket to the generation that owns its current data; untouched
  * buckets keep their old files and are referenced by the new manifest —
  * a steady-state round whose updates hit k of B buckets costs k/B of a
  * full rewrite (the Iceberg/Delta-style property a 100 TB frontier
  * needs). Readers never see a half-written state: bucket data lands
  * before the manifest, the manifest before the pointer flip, and the
  * previous location of every rewritten bucket is retained one
  * generation for in-flight readers via the manifest's retire-log
  * (`retire <relpath>` lines name the locations THIS commit superseded;
  * the NEXT commit reclaims them — batched best-effort deletes off the
  * read path, no per-bucket directory listings).
  *
  * Bucketing by pld hash keeps the merge shuffle stable round-over-round
  * and lets per-domain lookups prune to one bucket directory. Stores
  * written by the pre-generation layout (`b<bucket>/v<ver>` dirs, plain
  * manifest entries) read transparently and migrate bucket-by-bucket as
  * commits touch them.
  */
object FrontierStore {

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketOf(buckets: Int) =
    pmod(xxhash64(col("pld")), lit(buckets)).cast("int")

  def latestVersion(spark: SparkSession, root: String): Option[Int] = {
    val f = fs(spark, root)
    val ptr = new Path(root, "_LATEST")
    if (!f.exists(ptr)) None
    else {
      val in = f.open(ptr)
      try Some(new String(in.readAllBytes()).trim.toInt)
      finally in.close()
    }
  }

  /** A bucket's location token: `g<N>` = generation layout
    * (`<root>/g<N>/bucket=<b>`), a bare integer = legacy layout
    * (`<root>/b<b>/v<ver>`).
    */
  private def bucketLoc(root: String, b: Int, tok: String): String =
    s"$root/${relLoc(b, tok)}"

  private def relLoc(b: Int, tok: String): String =
    if (tok.startsWith("g")) s"$tok/bucket=$b" else s"b$b/v$tok"

  /** (bucket count, bucket -> location token, retire-log, WAL
    * watermark) for manifest version `v`. The bucket count is a
    * persistent property of the store: merging with a different count
    * would hash a URL's update into a bucket its existing row never
    * lived in, silently duplicating state. The watermark is the highest
    * WAL sequence already folded into the bucketed table — replay skips
    * batches at or below it (exactly-once across a crash between the
    * fold commit and the WAL file deletes).
    */
  private def readManifest(
      spark: SparkSession, root: String, v: Int)
      : (Int, Map[Int, String], Seq[String], Long) = {
    val f = fs(spark, root)
    val mpath = new Path(root, s"_MANIFEST_v$v")
    if (!f.exists(mpath))
      throw new IllegalStateException(
        s"$root has _LATEST=$v but no _MANIFEST_v$v — " +
          "pre-manifest (full-copy v<N>) layout is not readable by the " +
          "merge-on-read store; rebuild it with mergeInto on a fresh root")
    val in = f.open(mpath)
    val text = try new String(in.readAllBytes()) finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val buckets = lines.head.stripPrefix("buckets ").toInt
    val retire = lines.tail.filter(_.startsWith("retire "))
      .map(_.stripPrefix("retire ").trim)
    val walWm = lines.tail.find(_.startsWith("wal "))
      .map(_.stripPrefix("wal ").trim.toLong).getOrElse(-1L)
    val entries = lines.tail
      .filterNot(l => l.startsWith("retire ") || l.startsWith("wal "))
      .map { line =>
        val Array(b, tok) = line.trim.split(" ")
        b.toInt -> tok
      }.toMap
    (buckets, entries, retire, walWm)
  }

  private def writeManifest(
      spark: SparkSession, root: String, v: Int, buckets: Int,
      manifest: Map[Int, String], retire: Seq[String],
      walWm: Long): Unit = {
    val f = fs(spark, root)
    val out = f.create(new Path(root, s"_MANIFEST_v$v"), true)
    try out.write(
      (s"buckets $buckets" +:
        ((if (walWm >= 0) Seq(s"wal $walWm") else Seq.empty) ++
          retire.sorted.map(r => s"retire $r") ++
          manifest.toSeq.sortBy(_._1).map { case (b, tok) => s"$b $tok" }))
        .mkString("\n").getBytes)
    finally out.close()
  }

  def read(spark: SparkSession, root: String): Option[DataFrame] =
    latestVersion(spark, root).flatMap { v =>
      val (_, manifest, _, _) = readManifest(spark, root, v)
      if (manifest.isEmpty) None
      else {
        val paths = manifest.toSeq.sortBy(_._1)
          .map { case (b, tok) => bucketLoc(root, b, tok) }
        Some(readParquet(spark, paths))
      }
    }

  /** Parquet read that runs no Spark job: the schema is the one Spark
    * recorded in the first file's footer when it wrote the data (one
    * driver-side footer read instead of a schema-inference job; it must
    * come from the files — a store's `score` is float or decimal, see
    * [[retire]]), and each scan takes at most Spark's parallel-listing
    * threshold of dirs (past it Spark lists them in a job of its own;
    * bucket dirs hold a file or two, so the driver lists them faster).
    */
  private def readParquet(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(dirs.head)
    val recorded = dir.getFileSystem(conf).listStatus(dir)
      .find(_.getPath.getName.endsWith(".parquet")).flatMap { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try Option(r.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY)) finally r.close()
      }
    val reader = recorded.fold(spark.read)(json =>
      spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]))
    val perScan = spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    dirs.grouped(math.max(1, perScan)).map(reader.parquet(_: _*)).reduce(_ union _)
  }

  /** The journal columns every bucket version records a `_SKIP` sidecar
    * for at commit time: the two time axes the engine's scans band on
    * (retention age rules filter statusTime; schedules filter
    * nextFetchTime).
    */
  private val StatsCols = Seq("statusTime", "nextFetchTime")

  /** [[read]] restricted to the conjunction of `ranges` (inclusive, long
    * form), opening only the bucket FILES whose `_SKIP` ranges intersect
    * — the time-banded scan path ([[graft.crawl.RetentionPolicy]]'s age
    * rules). Buckets written before the sidecar hook read unpruned
    * (lenient adoption); rows returned equal [[read]] + the same filters
    * exactly. Returns the prune accounting alongside for benches/specs.
    */
  def readBanded(
      spark: SparkSession, root: String,
      ranges: Seq[graft.operators.DataSkipping.ColRange])
      : Option[(DataFrame, graft.operators.DataSkipping.PruneInfo)] =
    latestVersion(spark, root).flatMap { v =>
      val (_, manifest, _, _) = readManifest(spark, root, v)
      if (manifest.isEmpty) None
      else {
        val paths = manifest.toSeq.sortBy(_._1)
          .map { case (b, tok) => bucketLoc(root, b, tok) }
        Some(graft.operators.DataSkipping.prunedReadDirs(spark, paths, ranges))
      }
    }

  /** Merge `updates` (CrawlStateUrl rows) into the stored frontier and
    * commit a new version, rewriting only the buckets the updates touch.
    * Returns the merged frontier.
    *
    * Commit critical path (the live loop runs this every round): ONE
    * Spark job pinning the updates (the affected-bucket set rides it as
    * an observed metric — no second pass), ONE partitioned write into
    * the final generation dir, pooled best-effort sidecar writes, one
    * manifest write, one pointer flip. Reclamation of the PREVIOUS
    * commit's superseded locations happens after the flip, batched and
    * best-effort (a missed delete is re-attempted never — it is space,
    * not correctness; the retire-log names it exactly once).
    */
  def mergeInto(
      spark: SparkSession, root: String, updates: DataFrame,
      buckets: Int = 64, walWatermark: Option[Long] = None): DataFrame = {
    // commit-phase walls to stderr when -Dgraft.frontier.phases=true —
    // the LiveCrawlBench A/B's attribution hook, zero cost when off
    val phasesOn = java.lang.Boolean.getBoolean("graft.frontier.phases")
    var phaseT0 = System.nanoTime()
    def phase(name: String): Unit = if (phasesOn) {
      val t = System.nanoTime()
      System.err.println(f"[frontier-phase] $name ${(t - phaseT0) / 1e6}%.0f ms")
      phaseT0 = t
    }
    val f = fs(spark, root)
    val prev = latestVersion(spark, root)
    val (storeBuckets, prevManifest, prevRetire, prevWalWm) = prev
      .map(readManifest(spark, root, _))
      .getOrElse((buckets, Map.empty[Int, String], Seq.empty[String], -1L))
    require(storeBuckets == buckets,
      s"store at $root was built with $storeBuckets buckets; " +
        s"merging with $buckets would split per-URL state across buckets")
    val next = prev.getOrElse(-1) + 1

    // merge case: pin the updates once — the bucket scan and the
    // generation write must see the SAME rows (a nondeterministic update
    // pipeline could otherwise emit rows into buckets the scan never
    // saw). The affected-bucket set rides the SAME pinning action as an
    // observed aggregate — the separate distinct().collect() pass this
    // replaced was one of the per-round driver actions LiveCrawlBench
    // billed to the commit.
    //
    // FRESH-STORE fast path (r18): with no previous manifest there are
    // no standing buckets to merge against, so nothing needs the
    // affected set BEFORE the write — the one generation-dir listing
    // that already decides `written` IS the affected set. The pin job
    // (a full materialization of the updates — at frontier scale, a
    // second copy of the whole bootstrap corpus) and the observe are
    // skipped; the updates flow through exactly one job, scan → merge →
    // write. Updates must be deterministic under task retry — the same
    // contract any un-checkpointed Spark write already imposes, and the
    // WAL/fold/gate callers all pass deterministic frames.
    val freshStore = prevManifest.isEmpty
    var pinned: Option[DataFrame] = None
    val affected: Seq[Int] =
      if (freshStore) Seq.empty
      else {
        val obs = org.apache.spark.sql.Observation()
        val tagged = updates.withColumn("bucket", bucketOf(buckets))
          .observe(obs, collect_set(col("bucket")).as("buckets"))
          .localCheckpoint(true)
        phase("pin")
        val got: Seq[Int] = obs.get.get("buckets") match {
          case Some(s: scala.collection.Seq[_]) =>
            s.map(_.asInstanceOf[Int]).sorted.toSeq
          case other => throw new IllegalStateException(
            s"bucket observation returned $other")
        }
        if (got.isEmpty) {
          // nothing to merge: leave the store's DATA untouched. A fold
          // of all-empty WAL batches must still advance the watermark in
          // place so those batches become reclaimable.
          walWatermark.filter(_ > prevWalWm).foreach { wm =>
            prev.foreach(v =>
              writeManifest(spark, root, v, buckets, prevManifest,
                prevRetire, wm))
          }
          return read(spark, root).getOrElse(updates)
        }
        pinned = Some(tagged)
        got
      }
    val currentAffected = affected
      .flatMap(b => prevManifest.get(b).map(tok => bucketLoc(root, b, tok)))
    val base = pinned match {
      case None => updates
      case Some(tagged) =>
        if (currentAffected.isEmpty) tagged.drop("bucket")
        else readParquet(spark, currentAffected)
          .unionByName(tagged.drop("bucket"))
    }

    // one job writing every rewritten bucket DIRECTLY into its final
    // generation dir (overwrite replaces any orphan a crashed attempt at
    // this same — unreferenced — version left behind). REMOVED winners
    // ([[retire]] tombstones) are filtered HERE — the physical deletion
    // point: the rewritten bucket simply no longer carries the url
    val genDir = s"$root/g$next"
    UrlStateMerger.mergeFrontier(base)
      .filter(col("status") =!= graft.schema.FetchStatus.REMOVED)
      .withColumn("bucket", bucketOf(buckets))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(genDir)
    phase("write")
    // ONE listing decides which affected buckets wrote data; a bucket
    // whose every row was REMOVED writes no dir and leaves the manifest
    // entirely (readers skip unmapped buckets). On the fresh-store path
    // this listing is also where the affected set comes from.
    val written: Set[Int] = f.listStatus(new Path(genDir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt).toSet
    val (present, emptied) =
      if (freshStore) (written.toSeq.sorted, Seq.empty[Int])
      else affected.partition(written.contains)
    // a commit whose every affected bucket emptied wrote no data at all —
    // drop the hollow generation dir (only _SUCCESS inside) now. A fresh
    // build with zero surviving rows commits nothing, unless it folds WAL
    // batches: then a bucket-less manifest records the watermark, or the
    // fold's tombstone-only batches would be re-folded and never reclaimed
    if (present.isEmpty) {
      f.delete(new Path(genDir), true)
      if (freshStore && walWatermark.forall(_ <= prevWalWm))
        return read(spark, root).getOrElse(updates.limit(0))
    }

    // file-skipping sidecars for the NEW bucket dirs (metadata-only,
    // footer-derived): time-banded scans — the retention candidate
    // rules' statusTime age bands, due-before-now schedules — open only
    // the bucket files whose range intersects ([[readBanded]]).
    // Freshness holds by construction: bucket locations are new-named
    // dirs, so a sidecar can never describe rewritten files; buckets
    // from before this hook simply have no sidecar and read unpruned.
    // One pooled pass ACROSS buckets (each bucket holds few files, so
    // the per-dir pool would idle; sequential dirs would serialize the
    // round trips — the cost that matters on object storage). Best-
    // effort: a failed stats write must NOT abort a data commit whose
    // write already landed — an absent sidecar is merely unpruned
    // (the lenient-read contract), never wrong
    graft.util.Pooled.ordered(
        present, threads = 16, name = "bucketstats") { b =>
      try graft.operators.DataSkipping.writeStats(
        spark, s"$genDir/bucket=$b", StatsCols, threads = 1)
      catch { case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger("graft.crawl.FrontierStore")
          .warn(s"skip-stats sidecar for bucket $b g$next failed (reads " +
            s"unpruned until the next rewrite): $e")
      }
    }

    val manifest =
      (prevManifest ++ present.map(_ -> s"g$next").toMap) -- emptied
    // retire-log: every affected bucket's PREVIOUS location is
    // superseded by this commit — retained one generation for readers
    // that resolved the pointer just before the flip, then reclaimed by
    // the next commit
    val newRetire = affected
      .flatMap(b => prevManifest.get(b).map(tok => relLoc(b, tok)))
    phase("sidecars")
    writeManifest(spark, root, next, buckets, manifest, newRetire,
      math.max(prevWalWm, walWatermark.getOrElse(-1L)))
    graft.util.FsAtomic.writePointer(
      f, new Path(root), "_LATEST", next.toString)

    // reclaim what the PREVIOUS commit superseded (now two generations
    // old — no reader can still hold it), plus drop manifests older than
    // the previous one. Legacy buckets (pre-generation layout) migrate
    // here: any extra v-dirs the old layout's one-generation retention
    // kept are swept the first time a commit touches the bucket.
    phase("flip")
    reclaim(f, root, prevRetire)
    affected.foreach { b =>
      prevManifest.get(b).filterNot(_.startsWith("g")).foreach { keepTok =>
        val dir = new Path(s"$root/b$b")
        if (f.exists(dir)) f.listStatus(dir).foreach { st =>
          if (st.getPath.getName != s"v$keepTok") f.delete(st.getPath, true)
        }
      }
    }
    (0 until next - 1).foreach { old =>
      f.delete(new Path(root, s"_MANIFEST_v$old"), false)
    }
    phase("reclaim")
    read(spark, root).getOrElse(updates.limit(0))
  }

  /** Batched best-effort reclamation of superseded bucket locations:
    * delete each named relative path, then drop parent dirs that hold no
    * bucket data anymore (a generation whose every bucket was superseded,
    * a legacy `b<bucket>` dir emptied by migration).
    */
  private def reclaim(
      f: org.apache.hadoop.fs.FileSystem, root: String,
      rel: Seq[String]): Unit = {
    if (rel.isEmpty) return
    graft.util.Pooled.ordered(rel, threads = 16, name = "frontier-reclaim") {
      r => try f.delete(new Path(root, r), true)
           catch { case scala.util.control.NonFatal(_) => false }
    }
    rel.map(_.takeWhile(_ != '/')).distinct.foreach { parent =>
      val p = new Path(root, parent)
      try {
        if (f.exists(p) && f.listStatus(p).forall(st =>
            st.getPath.getName.startsWith("_")))
          f.delete(p, true)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Purge `urls` from the journal — the frontier's right-to-be-forgotten
    * path, completing [[graft.operators.Takedown]]'s reach (corpus +
    * indexes + now the crawl state itself): merge-in
    * [[graft.schema.FetchStatus.REMOVED]] tombstone rows that win the
    * terminal merge unconditionally and are filtered out of the
    * rewritten buckets — the url's row is physically gone, and only the
    * buckets its plds hash into are rewritten (delete-set-bounded). A
    * later crawl re-admits the url as a fresh row (the tombstone is
    * never stored). Idempotent: re-purging a purged url merges a
    * tombstone against nothing.
    */
  def retire(
      spark: SparkSession, root: String, urls: DataFrame,
      urlCol: String = "url"): Unit =
    latestVersion(spark, root).foreach { v =>
      val (buckets, _, _, _) = readManifest(spark, root, v)
      val pldUdf = udf(graft.functions.UrlFunctions.extractPld _)
      // tombstone rows must carry the STORE's exact column types (score
      // may be float or decimal depending on the frontier's producer) —
      // a type-widening union would rewrite touched buckets under a new
      // schema and break reads that span touched + untouched buckets
      val storedSchema = read(spark, root) match {
        case Some(df) => df.schema
        case None     => return
      }
      // no pin here: mergeInto immediately pins its bucket-tagged
      // derivation of this frame (the store is non-fresh — retire is a
      // no-op otherwise), so a checkpoint at this seam was a redundant
      // extra materialization job on the purge path
      val updates = urls.select(col(urlCol).as("url")).distinct()
        .select(col("url"), pldUdf(col("url")).as("pld"),
          lit(graft.schema.FetchStatus.REMOVED).as("status"),
          lit(Long.MaxValue).as("statusTime"),
          lit(0.0f).as("score"),
          lit(Long.MaxValue).as("nextFetchTime"))
        .select(storedSchema.map(fd =>
          col(fd.name).cast(fd.dataType).as(fd.name)): _*)
      mergeInto(spark, root, updates, buckets)
      // privacy outranks the one-generation reader-retention window for
      // a PURGE: the superseded locations (which still carry the url's
      // bytes) are reclaimed immediately, not at the next merge — the
      // store is single-writer, and a purge is the one operation whose
      // old bytes must not linger. The fresh manifest's retire-log names
      // exactly the locations this purge superseded; reclaiming them now
      // is harmless at the next commit (absent-path deletes are no-ops).
      val f = fs(spark, root)
      latestVersion(spark, root).foreach { vNow =>
        val (_, _, retireNow, _) = readManifest(spark, root, vNow)
        reclaim(f, root, retireNow)
      }
    }

  // ------------------------------------------------------------------
  // Write-ahead log: the per-ROUND durability tier. A live crawl's round
  // commit through [[mergeInto]] pays a full bucketed-table write cycle
  // (merge read + B small parquet files + sidecars) every round — the
  // fixed per-round cost LiveCrawlBench measured as the live-crawl
  // throughput limiter. The WAL makes the round commit ONE small
  // single-file parquet append; the bucketed fold runs every
  // `frontierCompactEvery` rounds instead. Readers get the exact merged
  // view via [[readResolved]] (store ∪ pending WAL, resolved with
  // broadcast-sized joins — the big store side is never shuffled).
  // Exactly-once across crashes: the manifest's `wal <seq>` watermark
  // records the highest folded batch; replay skips batches at or below
  // it, so a crash between the fold commit and the WAL deletes cannot
  // double-apply (UNFETCHED score sums are not idempotent).
  // ------------------------------------------------------------------

  private def walDirPath(root: String) = new Path(root, "_wal")

  /** Committed WAL batches (seq, path) ascending; torn dirs (no
    * `_SUCCESS` — a crashed append) are invisible.
    */
  private def walBatches(
      f: org.apache.hadoop.fs.FileSystem, root: String): Seq[(Long, Path)] = {
    val dir = walDirPath(root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("w"))
        n.stripPrefix("w").toLongOption
          .filter(_ => f.exists(new Path(st.getPath, "_SUCCESS")))
          .map(_ -> st.getPath)
      else None
    }.sortBy(_._1)
  }

  private def currentWalWm(spark: SparkSession, root: String): Long =
    latestVersion(spark, root)
      .map(v => readManifest(spark, root, v)._4).getOrElse(-1L)

  /** The next free WAL sequence (strictly above every existing dir —
    * committed or torn — and the folded watermark).
    */
  def nextWalSeq(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val dir = walDirPath(root)
    val maxDir =
      if (!f.exists(dir)) -1L
      else f.listStatus(dir).toSeq
        .flatMap(st => st.getPath.getName.stripPrefix("w").toLongOption)
        .foldLeft(-1L)(math.max)
    math.max(maxDir, currentWalWm(spark, root)) + 1
  }

  /** Durably append one round's updates (CrawlStateUrl rows) as WAL
    * batch `seq`: ONE small parquet file, one write job. Overwrite mode
    * reclaims a torn dir a crashed attempt at this seq left behind.
    */
  def appendWal(
      spark: SparkSession, root: String, updates: DataFrame,
      seq: Long): Unit =
    updates.coalesce(1).write.mode("overwrite")
      .parquet(new Path(walDirPath(root), s"w$seq").toString)

  /** The exact merged frontier: bucketed store resolved against the
    * pending WAL batches. The store side passes through broadcast-sized
    * semi/anti joins on the WAL's url set — never a full-store shuffle;
    * only WAL rows and the store rows they touch go through the merge
    * aggregation. (One-shot merge over raw WAL rows equals the iterated
    * per-round fold: [[graft.operators.UrlStateMerger]]'s buffer is a
    * sufficient statistic — scores sum, times max/min, winners by total
    * order.)
    */
  def readResolved(spark: SparkSession, root: String): Option[DataFrame] = {
    val f = fs(spark, root)
    val wm = currentWalWm(spark, root)
    val pending = walBatches(f, root).filter(_._1 > wm)
    val stored = read(spark, root)
    val wal =
      if (pending.isEmpty) None
      else Some(readParquet(spark, pending.map(_._2.toString)))
    (stored, wal) match {
      case (None, None) => None
      case (Some(s), None) => Some(s)
      case (None, Some(w)) => Some(UrlStateMerger.mergeFrontier(w))
      case (Some(s), Some(w)) =>
        // no distinct: a duplicate build key changes neither join, and a
        // dedup would add a shuffle stage to every crawl round's schedule
        val keys = w.select("url")
        val touched = s.join(keys, Seq("url"), "left_semi")
          .unionByName(w.select(s.columns.map(col): _*))
        val untouched = s.join(keys, Seq("url"), "left_anti")
        Some(UrlStateMerger.mergeFrontier(touched).unionByName(untouched))
    }
  }

  /** Fold every pending WAL batch into the bucketed table (one
    * [[mergeInto]] carrying the new watermark), then reclaim the folded
    * WAL dirs. Crash-safe at every point: before the manifest lands the
    * WAL still replays; after it lands a leftover WAL dir is at or below
    * the watermark and invisible to replay, reclaimed on the next call.
    */
  def compactWal(
      spark: SparkSession, root: String, buckets: Int = 64): Unit = {
    val f = fs(spark, root)
    val wm = currentWalWm(spark, root)
    val pending = walBatches(f, root).filter(_._1 > wm)
    if (pending.nonEmpty) {
      val updates = readParquet(spark, pending.map(_._2.toString))
      mergeInto(spark, root, updates, buckets,
        walWatermark = Some(pending.map(_._1).max))
    }
    // reclaim everything the (possibly advanced) watermark now covers
    val wmNow = currentWalWm(spark, root)
    walBatches(f, root).filter(_._1 <= wmNow).foreach { case (_, p) =>
      try f.delete(p, true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Bucket-pruned per-domain lookup: reads exactly one bucket dir. The
    * bucket count comes from the store's manifest, not the caller.
    */
  def domainSlice(
      spark: SparkSession, root: String, pld: String): Option[DataFrame] =
    latestVersion(spark, root).flatMap { v =>
      val (buckets, manifest, _, _) = readManifest(spark, root, v)
      // same bucket function the writer uses, evaluated by Spark itself
      val b = spark.range(1)
        .select(pmod(xxhash64(lit(pld)), lit(buckets)).cast("int"))
        .head().getInt(0)
      manifest.get(b).map { tok =>
        readParquet(spark, Seq(bucketLoc(root, b, tok)))
          .filter(col("pld") === pld)
      }
    }
}
