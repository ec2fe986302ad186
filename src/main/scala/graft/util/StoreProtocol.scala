package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The append-only standing-store commit protocol, shared by
  * [[graft.operators.SignatureIndexStore]], [[graft.operators.AnnIndexStore]]
  * and [[graft.operators.LabelStore]] (and, in pointer form, by
  * [[graft.crawl.FrontierStore]]):
  *
  *   - `_META`               — key-value store parameters, pinned at creation
  *   - `<table>/batch=<b>/…` — immutable per-batch data dirs
  *   - `_commit_<b>`         — atomic marker: batch `b`'s files are complete;
  *                             content records each table's written
  *                             partition set so readers assemble EXPLICIT
  *                             paths with zero directory listing
  *   - `<table>/c<gen>/…`    — compaction snapshots
  *   - `_COMPACT`            — atomic pointer `"<gen> <coveredUpTo>"`:
  *                             batches ≤ coveredUpTo live merged in
  *                             generation `gen`
  *
  * Every mutation is write-new-files-then-flip-one-pointer
  * ([[FsAtomic.writePointer]]), so readers always see a complete store
  * state; `visible` is the read fence that makes retried loop batches
  * exclude their own crashed appends. Extracted once so a protocol fix
  * lands in every store — the three stores had carried near-verbatim
  * copies of this file's functions before round 11.
  */
object StoreProtocol {

  def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whole small-file read (pointers, markers, meta). None if absent. */
  def readSmall(f: FileSystem, p: Path): Option[String] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }

  /** `_META` as "key value" lines → map. None when the store does not
    * exist yet.
    */
  def readMetaKv(spark: SparkSession, root: String): Option[Map[String, String]] =
    readSmall(fs(spark, root), new Path(root, "_META")).map {
      _.linesIterator.filter(_.trim.nonEmpty).map { l =>
        val Array(k, v) = l.trim.split(" ", 2); k -> v
      }.toMap
    }

  /** Create the root (if needed) and atomically write `_META`. */
  def writeMetaKv(
      spark: SparkSession, root: String, kv: Seq[(String, String)]): Unit = {
    val f = fs(spark, root)
    f.mkdirs(new Path(root))
    FsAtomic.writePointer(f, new Path(root), "_META",
      kv.map { case (k, v) => s"$k $v" }.mkString("\n"))
  }

  /** Batch ids whose append/fold fully committed, ascending. */
  def committedBatches(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val p = new Path(root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("_commit_"))
      .map(_.stripPrefix("_commit_").toLong).sorted.toSeq
  }

  /** Latest compaction state: (generation, coveredUpTo). */
  def compactState(spark: SparkSession, root: String): Option[(Long, Long)] =
    readSmall(fs(spark, root), new Path(root, "_COMPACT")).map { text =>
      val Array(gen, upTo) = text.trim.split(" ")
      (gen.toLong, upTo.toLong)
    }

  /** Atomically flip the `_COMPACT` pointer — the compaction commit point. */
  def writeCompactPointer(
      spark: SparkSession, root: String, gen: Long, upTo: Long): Unit =
    FsAtomic.writePointer(fs(spark, root), new Path(root), "_COMPACT",
      s"$gen $upTo")

  /** Atomically write a batch's commit marker with the given content
    * (readers parse marker CONTENT, so a crashed writer must never leave
    * a half-written marker — temp + overwrite-rename, not create).
    */
  def writeCommitMarker(
      spark: SparkSession, root: String, batchId: Long,
      content: String): Unit =
    FsAtomic.writePointer(fs(spark, root), new Path(root),
      s"_commit_$batchId", content)

  /** List one table+batch dir's written `bucket=` partition ids. */
  def bucketsOnDisk(f: FileSystem, dir: String): Seq[Int] = {
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt).sorted.toSeq
  }

  /** Record each table's written bucket set in the batch's commit marker
    * (one "<table> <csv>" line per table): readers then build explicit
    * paths without listing batches × buckets directories. `extraLines`
    * append protocol metadata lines (e.g. the "tombset" digest of a
    * retiring batch) after the table lines.
    */
  def writeBucketMarker(
      spark: SparkSession, root: String, batchId: Long,
      tables: Seq[String], extraLines: Seq[String] = Nil): Unit = {
    val f = fs(spark, root)
    val content = (tables.map { t =>
      s"$t ${bucketsOnDisk(f, s"$root/$t/batch=$batchId").mkString(",")}"
    } ++ extraLines).mkString("\n")
    writeCommitMarker(spark, root, batchId, content)
  }

  /** The bucket ids a committed batch wrote for `table`, parsed from its
    * commit marker. None when the marker predates the bucket-set field
    * (or the store was hand-built) — callers fall back to one listing of
    * the batch dir.
    */
  def markerBuckets(
      spark: SparkSession, root: String, table: String,
      batchId: Long): Option[Seq[Int]] =
    readSmall(fs(spark, root), new Path(root, s"_commit_$batchId"))
      .flatMap(_.linesIterator.find(_.startsWith(s"$table ")))
      .map(_.stripPrefix(s"$table ").trim)
      .map(csv => if (csv.isEmpty) Seq.empty[Int]
                  else csv.split(",").map(_.toInt).toSeq)

  // ------------------------------------------------------- tombstones

  /** Tombstone rows: `(id, batch)` under `tombs/batch=<b>/bucket=0`.
    * SEMANTICS: a tombstone written in batch `b` kills every data row of
    * that id with `batch < b` — exactly the rows visible when the
    * retirement was issued. Re-appending the id in a LATER batch
    * resurrects it (re-ingest of a new version is an append, not an
    * update). The tombstone working set is bounded by retirements since
    * the last compaction: [[cleanupCompacted]]-covered tombstones were
    * already APPLIED when the snapshot folded (every row they could kill
    * had `batch < tb <= coveredUpTo` and is physically gone), so the
    * live set stays broadcast-sized in the steady state — and
    * [[readTombstones]] size-switches the read-path anti-join to a
    * shuffle when a massive purge exceeds [[TombBroadcastMaxBytes]].
    */
  val tombSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("batch", LongType)))

  /** Ids per tombstone bucket file: a takedown-sized retirement (a few
    * thousand to a few million ids) stays ONE file; a whole-source purge
    * (10^7–10^8 ids) shards so neither the write nor the read funnels
    * through one task.
    */
  val TombIdsPerBucket: Long = 1L << 21

  /** Tombstone sets at or below this many on-disk bytes ride the read
    * path as a broadcast anti-join; above it [[readTombstones]] leaves
    * the frame unhinted and the anti-join shuffles on the id instead
    * (the 32 MB default is ~2M ids of parquet — comfortably inside one
    * executor's broadcast budget, far below the OOM shape a 10^8-id
    * purge would hit).
    */
  val TombBroadcastMaxBytes: Long = 32L << 20

  /** Shards for an `n`-id delete-set write — ONE for the common takedown
    * size, hashed shards above [[TombIdsPerBucket]], capped at 1024. The
    * single sizing policy for every delete-set pin ([[writeTombstones]]
    * and Takedown's journal ids), so the two write paths cannot drift.
    */
  def tombShards(n: Long): Int =
    math.min(1024L,
      (n.max(1L) + TombIdsPerBucket - 1) / TombIdsPerBucket).toInt

  /** Write batch `batchId`'s tombstone set (the ids retired by this
    * batch) under hashed `bucket=` partitions — ONE file for the common
    * delete-set size, sharded above [[TombIdsPerBucket]] so a massive
    * purge never funnels through a single task. The shared bucket-marker
    * machinery records the written set like any table; the caller
    * commits the batch's marker (listing table "tombs") AFTER this
    * lands, like any other table write.
    */
  def writeTombstones(
      spark: SparkSession, root: String, ids: DataFrame, idCol: String,
      batchId: Long): Long = {
    // the shard-count probe rides the pinning job as an observed metric
    // (no separate count() job per retirement)
    val obs = new org.apache.spark.sql.Observation()
    val norm = ids.select(col(idCol).cast("long").as("id")).distinct()
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val n = obs.get.getOrElse("n", null) match {
      case x: java.lang.Long => x.longValue()
      case _                 => 0L
    }
    val nb = tombShards(n)
    val rows = norm.withColumn("batch", lit(batchId))
    (if (nb == 1) rows.withColumn("bucket", lit(0)).coalesce(1)
     else rows
       .withColumn("bucket", pmod(xxhash64(col("id")), lit(nb)).cast("int"))
       .repartition(col("bucket")))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$root/tombs/batch=$batchId")
    // the on-disk byte size, measured ONCE here and recorded in the
    // commit marker ([[tombBytesLine]]) — readers then decide broadcast
    // vs shuffle from marker content instead of re-issuing filesystem
    // metadata RPCs for the same immutable files on every read
    fs(spark, root)
      .getContentSummary(new Path(s"$root/tombs/batch=$batchId"))
      .getLength
  }

  /** The marker line recording a retiring batch's on-disk tombstone
    * bytes (the [[writeTombstones]] return value).
    */
  def tombBytesLine(n: Long): String = s"tombbytes $n"

  /** The live tombstone set across `batches`, as (id, batch). Paths come
    * from the commit markers' "tombs" line — a marker without one (every
    * pure data batch) contributes nothing and costs no filesystem call.
    * None when no visible batch retired anything (the common case: the
    * read path then skips the anti-join entirely). The frame carries a
    * broadcast hint iff the set's on-disk bytes fit
    * [[TombBroadcastMaxBytes]] — sizes come from each retiring batch's
    * `tombbytes` marker line (recorded at write time; a legacy marker
    * without one falls back to one content-summary call per path), so
    * [[applyTombstones]] broadcasts small sets and shuffles big ones
    * without its callers choosing and without per-read metadata RPCs.
    */
  def readTombstones(
      spark: SparkSession, root: String,
      batches: Seq[Long]): Option[DataFrame] = {
    val f = fs(spark, root)
    // ONE marker read per batch serves both the bucket list and the
    // byte size — these are small-file GETs on the hot read path
    val perBatch = batches.flatMap { b =>
      readSmall(f, new Path(root, s"_commit_$b")).flatMap { content =>
        val buckets = content.linesIterator
          .find(_.startsWith("tombs ")).map(_.stripPrefix("tombs ").trim)
          .map(csv => if (csv.isEmpty) Seq.empty[Int]
                      else csv.split(",").map(_.toInt).toSeq)
          .getOrElse(Seq.empty)
        if (buckets.isEmpty) None
        else {
          val paths = buckets.map(k => s"$root/tombs/batch=$b/bucket=$k")
          val bytes = content.linesIterator
            .find(_.startsWith("tombbytes "))
            .map(_.stripPrefix("tombbytes ").trim.toLong)
            .getOrElse(paths
              .map(p => f.getContentSummary(new Path(p)).getLength).sum)
          Some((paths, bytes))
        }
      }
    }
    if (perBatch.isEmpty) None
    else {
      val t = spark.read.schema(tombSchema)
        .parquet(perBatch.flatMap(_._1): _*)
      Some(if (perBatch.map(_._2).sum <= TombBroadcastMaxBytes)
        t.hint("broadcast") else t)
    }
  }

  /** Merge-on-read retirement: drop `data` rows whose id carries a
    * tombstone NEWER than the row's batch. `data` must expose `idCol`
    * and a numeric `batch` column (snapshot rows are stamped with the
    * compaction horizon by their readers — every row a snapshot carries
    * derives from batches at or below it). The tombstone side joins as
    * [[readTombstones]] hinted it: broadcast when the set fits
    * [[TombBroadcastMaxBytes]] (the takedown norm), a shuffled anti-join
    * on the id above it (the whole-source-purge shape).
    */
  def applyTombstones(
      data: DataFrame, idCol: String,
      tombs: Option[DataFrame]): DataFrame =
    tombs.fold(data) { t =>
      data.join(
        t.select(col("id").as("__tomb_id"),
          col("batch").as("__tomb_batch")),
        data(idCol) === col("__tomb_id") &&
          data("batch") < col("__tomb_batch"),
        "left_anti")
    }

  /** Order-independent digest of a retirement's id set — "<count>:<xor>"
    * of the normalized (distinct, long-cast) ids. Every tombstone-writing
    * commit records it as a `tombset <digest>` marker line
    * ([[tombsetLine]]), so [[retireAlreadyCommitted]] can distinguish a
    * re-run of the SAME retirement (idempotent — Takedown.resume replays
    * its pinned plan) from a DIFFERENT operation reusing a committed
    * batch's id (refused — it would overwrite the batch's tombstone file
    * or marker with foreign content). xor, not sum: order-free and
    * overflow-free under ANSI arithmetic.
    */
  def tombsDigest(ids: DataFrame, idCol: String): String = {
    val row = ids.select(col(idCol).cast("long").as("id")).distinct()
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(id))").as("x")).head()
    val x = if (row.isNullAt(1)) 0L else row.getLong(1)
    s"${row.getLong(0)}:$x"
  }

  /** The marker line recording a retiring batch's delete-set digest. */
  def tombsetLine(digest: String): String = s"tombset $digest"

  /** The `tombset` digest a committed batch's marker carries, if any. */
  def markerTombset(
      spark: SparkSession, root: String, batchId: Long): Option[String] =
    readSmall(fs(spark, root), new Path(root, s"_commit_$batchId"))
      .flatMap(_.linesIterator.find(_.startsWith("tombset ")))
      .map(_.stripPrefix("tombset ").trim)

  /** Guard a retirement batch id against a committed marker. Returns
    * true when the batch already committed THIS EXACT retirement (marker
    * digest == `digest`) — the caller must then skip the write entirely:
    * the committed state already contains it, and re-marking could drop
    * marker lines a COMBINED data+retire commit recorded (the round-12
    * `wasRetire && !wroteData` guard refused exactly that re-run when
    * the retirement itself had legitimately written data rows — e.g. a
    * LabelStore relabel carve-out — wedging Takedown.resume). Refuses
    * when the id belongs to a DATA batch or to a DIFFERENT retirement.
    * Returns false when the id is fresh (or mid-crash uncommitted).
    */
  def retireAlreadyCommitted(
      spark: SparkSession, root: String, batchId: Long,
      digest: String): Boolean =
    if (!committedBatches(spark, root).contains(batchId)) false
    else markerTombset(spark, root, batchId) match {
      case Some(d) if d == digest => true
      case Some(d) =>
        throw new IllegalArgumentException(
          s"batch $batchId at $root already committed a DIFFERENT " +
            s"retirement (tombset $d, incoming $digest); overwriting its " +
            "tombstone set would resurrect or over-kill rows — use a " +
            "fresh batch id")
      case None =>
        throw new IllegalArgumentException(
          s"batch $batchId at $root already committed as a DATA batch; " +
            "retiring under its id would corrupt its marker — use a " +
            "fresh batch id")
    }

  /** Guard a DATA batch id (the mirror of [[retireAlreadyCommitted]]): a
    * data append/fold must not reuse a committed RETIREMENT batch's id —
    * rewriting that marker with a data marker would erase its "tombs"
    * line and silently resurrect every retired row. An id whose marker
    * records no tombstones (a plain data retry) passes.
    */
  def requireDataBatchId(
      spark: SparkSession, root: String, batchId: Long): Unit =
    require(
      markerTombset(spark, root, batchId).isEmpty &&
        !markerBuckets(spark, root, "tombs", batchId).exists(_.nonEmpty),
      s"batch $batchId at $root is a committed RETIREMENT batch; " +
        "appending data under its id would overwrite the tombstone " +
        "marker and resurrect retired rows — use a fresh batch id")

  /** Post-commit compaction cleanup: physically remove everything the
    * CURRENT `_COMPACT` pointer supersedes — every committed batch dir +
    * marker at or below `coveredUpTo` (not merely the batches folded in
    * this pass: a writer that crashed after a previous pointer flip but
    * before its cleanup left covered dirs that no later pass would
    * otherwise revisit, because fold candidates filter `> prevUpTo`) and
    * every `c<gen>` snapshot other than the live generation. Idempotent
    * and safe at any point after the flip — readers assemble paths from
    * the pointer + markers `> coveredUpTo`, never from the deleted ones.
    */
  def cleanupCompacted(
      spark: SparkSession, root: String, tables: Seq[String]): Unit = {
    val f = fs(spark, root)
    compactState(spark, root).foreach { case (gen, upTo) =>
      committedBatches(spark, root).filter(_ <= upTo).foreach { b =>
        tables.foreach(t => f.delete(new Path(s"$root/$t/batch=$b"), true))
        f.delete(new Path(root, s"_commit_$b"), false)
      }
      tables.foreach { t =>
        val tp = new Path(s"$root/$t")
        if (f.exists(tp)) f.listStatus(tp).map(_.getPath).foreach { p =>
          val n = p.getName
          if (n.length > 1 && n.head == 'c' && n.tail.forall(_.isDigit) &&
              n.tail.toLong != gen)
            f.delete(p, true)
        }
      }
    }
  }

  /** The data sources visible to a reader fenced at `belowBatch`: the
    * compact snapshot (if any) plus the uncompacted committed batches in
    * `(coveredUpTo, belowBatch)`. A fence at or below the compaction
    * horizon cannot be served (its batches no longer exist separately) —
    * compact()'s keep-newest policy makes that unreachable from a loop
    * (retry fences only ever point at the newest batch), so this throws
    * rather than silently over-matching. `what` names the store in the
    * error.
    */
  def visible(
      spark: SparkSession, root: String, belowBatch: Long,
      what: String): (Option[Long], Seq[Long]) = {
    val (gen, upTo) = compactState(spark, root).getOrElse((-1L, -1L))
    if (upTo >= belowBatch && upTo >= 0)
      throw new IllegalStateException(
        s"$what at $root is compacted through batch $upTo; a reader " +
          s"fenced at belowBatch=$belowBatch cannot exclude compacted " +
          "batches")
    val batches = committedBatches(spark, root)
      .filter(b => b > upTo && b < belowBatch)
    (if (gen >= 0) Some(gen) else None, batches)
  }
}
