package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.StoreProtocol

/** Durable standing MinHash-signature index with a band-key-bucketed,
  * APPEND-ONLY layout — the production storage for the [[CorpusIngest]]
  * loop (the `v=`-versioned layout in [[CorpusIngest.streaming]] rewrites
  * the whole index every micro-batch; at a real standing corpus that
  * rewrite is the first thing an operator hits).
  *
  * Layout under `root`:
  * {{{
  *   _META                      buckets / numHashes / bandSize (pinned at creation)
  *   _commit_<batchId>          marker: batch <id>'s files are complete
  *   bands/batch=<id>/bucket=<b>/part-*.parquet   (band_hash, doc_id)
  *   sigs/batch=<id>/bucket=<b>/part-*.parquet    (doc_id, sig)
  *   tombs/batch=<id>/bucket=0/part-*.parquet     (id, batch) — [[retire]]
  * }}}
  *
  * Properties the ingest loop needs at scale:
  *  - **Append-only**: a batch writes ONLY its own survivors' rows (one
  *    `batch=<id>` directory per table) — per-batch write cost is
  *    batch-sized, never index-sized. A retried batch overwrites its own
  *    `batch=<id>` directories and re-marks, so replays cannot compound.
  *  - **Pre-exploded bands**: band keys are computed ONCE, at append.
  *    The per-batch cross-dedup join scans `(band_hash, doc_id)` columnar
  *    — no signature UDF, no explode, no distinct over the standing
  *    index ever runs again.
  *  - **Bucket pruning**: both tables are partitioned by a stable hash
  *    bucket (band_hash for `bands`, doc_id for `sigs`). A lookup collects
  *    its touched bucket ids (≤ `buckets` ints) and filters on the
  *    partition column, so Spark prunes untouched `bucket=` directories
  *    at planning time — a trickle batch touching k of B buckets reads
  *    k/B of the index. Files within a bucket are sorted by key for
  *    row-group min/max skipping by external readers.
  *  - **Batch-side broadcast**: the band join and the signature fetch
  *    both broadcast the (bounded, batch-sized) side, so the index side
  *    streams through a scan — no index-sized shuffle per batch.
  *  - **Consistent reads**: data lands before the `_commit_` marker;
  *    readers only see marked batches, and a reader at batch `b` only
  *    sees batches `< b` (its own half-written retry is invisible).
  *
  * Mirrors the merge-on-read discipline of [[graft.crawl.FrontierStore]];
  * here rows are immutable (signatures never change), so plain
  * append+marker replaces manifests entirely. A loop that appends one
  * dir per micro-batch forever accumulates small files; [[compact]]
  * folds all but the newest batches (and the previous snapshot) into
  * one file per bucket per table under `<table>/c<gen>`, committed by
  * an atomic `_COMPACT` pointer flip — run it between batches from the
  * single writer that owns the store.
  */
object SignatureIndexStore {

  final case class Meta(buckets: Int, numHashes: Int, bandSize: Int) {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    def numBands: Int = numHashes / bandSize
  }

  private val bandsSchema = StructType(Seq(
    StructField("band_hash", LongType), StructField("doc_id", LongType),
    StructField("batch", LongType), StructField("bucket", IntegerType)))
  private val sigsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("sig", ArrayType(LongType)),
    StructField("batch", LongType), StructField("bucket", IntegerType)))

  // commit/fence/compaction protocol shared across the standing stores —
  // see graft.util.StoreProtocol for the layout and atomicity contract
  private def fs(spark: SparkSession, root: String) =
    StoreProtocol.fs(spark, root)

  /** Band keys are stored HASHED to a long (`xxhash64` of the string
    * key): the per-batch candidate join probes tens of millions of index
    * rows through a broadcast hash table, and long-key probes over a
    * vectorized long column run several times faster than string probes
    * (measured 3.1 s → sub-second at the 5M-row point). A 64-bit
    * collision can only ADD a candidate pair, which the jaccard-estimate
    * filter then judges on the true signatures — accepted-set semantics
    * are unchanged (p ≈ 2⁻⁶⁴ per pair for a spurious candidate).
    */
  private def bandBucket(meta: Meta) =
    pmod(col("band_hash"), lit(meta.buckets)).cast("int")
  private def docBucket(meta: Meta, c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(meta.buckets)).cast("int")

  def readMeta(spark: SparkSession, root: String): Option[Meta] =
    StoreProtocol.readMetaKv(spark, root).map(kv =>
      Meta(kv("buckets").toInt, kv("numHashes").toInt, kv("bandSize").toInt))

  private def writeMeta(spark: SparkSession, root: String, meta: Meta): Unit =
    StoreProtocol.writeMetaKv(spark, root, Seq(
      "buckets" -> meta.buckets.toString,
      "numHashes" -> meta.numHashes.toString,
      "bandSize" -> meta.bandSize.toString))

  /** Batch ids whose append fully committed, ascending. */
  def committedBatches(spark: SparkSession, root: String): Seq[Long] =
    StoreProtocol.committedBatches(spark, root)

  /** The bucket ids a committed batch actually wrote, per table — read
    * from the commit marker, so readers assemble EXPLICIT file paths
    * with zero directory listing (discovery over batches × buckets dirs
    * is the cost that grows with loop age; the marker is read anyway).
    * Markers from before this field (or hand-built stores) fall back to
    * one listStatus of the batch dir.
    */
  private def batchBuckets(
      spark: SparkSession, root: String, table: String,
      batchId: Long): Seq[Int] =
    StoreProtocol.markerBuckets(spark, root, table, batchId)
      .getOrElse(StoreProtocol.bucketsOnDisk(fs(spark, root),
        s"$root/$table/batch=$batchId"))

  /** Append `sigs` — (doc_id, sig), non-degenerate — as batch `batchId`.
    * Writes only this batch's rows (two `batch=<id>` dirs + a marker);
    * re-running the same batchId overwrites, never compounds. The store's
    * Meta is pinned on first append: appending with different parameters
    * would bucket keys into directories their join partners never scan,
    * silently losing matches — so a mismatch throws.
    */
  def append(
      spark: SparkSession, root: String, sigs: DataFrame, batchId: Long,
      meta: Meta,
      /** Ids retired ATOMICALLY with this batch's commit (tombstones ride
        * the same marker) — the streaming-loop form, where the loop owns
        * the batch-id sequence and a separate retirement batch would
        * collide with the next micro-batch's append. The tombstones kill
        * only rows of EARLIER batches; this batch's own rows survive.
        */
      retireIds: Option[DataFrame] = None,
      retireIdCol: String = "id"): Unit = {
    readMeta(spark, root) match {
      case Some(existing) =>
        require(existing == meta,
          s"store at $root was created with $existing; appending with " +
            s"$meta would split band/doc keys across incompatible buckets")
      case None => writeMeta(spark, root, meta)
    }
    // a batch id at or below the compaction horizon would be written but
    // never read (visible() excludes covered ids) — refuse loudly
    compactState(spark, root).foreach { case (_, upTo) =>
      require(batchId > upTo,
        s"store at $root is compacted through batch $upTo; appending " +
          s"batch $batchId would be invisible to every reader")
    }
    // a retirement batch's id must never be overwritten by a PURE data
    // marker (a retiring batch's own retry legitimately rewrites it)
    if (retireIds.isEmpty)
      StoreProtocol.requireDataBatchId(spark, root, batchId)
    // pin once: the bands projection and the sigs write must see the
    // same rows even if the input pipeline is nondeterministic
    val pinned = sigs.select(col("doc_id"), col("sig"))
      .filter(element_at(col("sig"), 1).isNotNull)
      .localCheckpoint(true)
    // repartition by bucket before the partitioned write: each bucket dir
    // gets ONE file per batch (32 tasks × B buckets of splinter files
    // would make every later scan pay per-file open cost); the shuffle is
    // batch-sized. The table writes (and the tombstone write, when this
    // is a combined data+retire commit) are independent jobs over
    // disjoint dirs — run them concurrently (guide §2.6): at small batch
    // sizes each is fixed-cost-bound (scheduling + committer renames),
    // and overlapping them nearly collapses the append's commit wall to
    // the largest single write.
    var tombBytes: Option[Long] = None
    graft.util.Par.run(
      () => pinned
        .withColumn("bucket", docBucket(meta, col("doc_id")))
        .repartition(col("bucket"))
        .sortWithinPartitions("bucket", "doc_id")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$root/sigs/batch=$batchId"),
      () => pinned
        .select(col("doc_id"),
          explode(TextOps.bandKeysUdf(meta.numBands, meta.bandSize)(col("sig")))
            .as("band_key"))
        .select(col("doc_id"), xxhash64(col("band_key")).as("band_hash"))
        .distinct()
        .withColumn("bucket", bandBucket(meta))
        .repartition(col("bucket"))
        .sortWithinPartitions("bucket", "band_hash")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$root/bands/batch=$batchId"),
      // the tombstone set (when present) is a third independent write
      // into its own batch-scoped dir — invisible until the marker below
      // lands, so it overlaps the data writes safely. Par.run's get()
      // fence makes the var visible to this thread after the join.
      () => tombBytes = retireIds.map(ids =>
        StoreProtocol.writeTombstones(spark, root, ids, retireIdCol, batchId)))
    // record each table's written bucket set in the marker: readers then
    // build explicit paths without listing batches × buckets directories
    // (readers parse marker CONTENT, so the write is atomic by protocol).
    // A combined data+retire commit also records its delete-set digest,
    // so a later standalone retire can never hijack this batch's id with
    // a different tombstone set (StoreProtocol.retireAlreadyCommitted),
    // and the tombstone byte size, so reads size-switch from marker
    // content alone
    StoreProtocol.writeBucketMarker(spark, root, batchId,
      Seq("bands", "sigs") ++ retireIds.map(_ => "tombs").toSeq,
      extraLines = retireIds.map(ids =>
        StoreProtocol.tombsetLine(
          StoreProtocol.tombsDigest(ids, retireIdCol))).toSeq ++
        tombBytes.map(StoreProtocol.tombBytesLine).toSeq)
  }

  /** Latest compaction state: (generation, coveredUpTo). Batches
    * `<= coveredUpTo` live merged in `<table>/c<generation>`; newer
    * batches keep their own `batch=` dirs. The `_COMPACT` pointer write
    * is the commit point (the [[graft.crawl.FrontierStore]] `_LATEST`
    * discipline — readers never see a half-built compaction).
    */
  def compactState(spark: SparkSession, root: String): Option[(Long, Long)] =
    StoreProtocol.compactState(spark, root)

  /** The data sources visible to a reader fenced at `belowBatch`: the
    * compact snapshot (if any) plus the uncompacted committed batches in
    * `(coveredUpTo, belowBatch)`. A fence at or below the compaction
    * horizon cannot be served (its batches no longer exist separately) —
    * [[compact]]'s keep-newest policy makes that unreachable from the
    * streaming loop, so it throws rather than silently over-matching.
    */
  private def visible(
      spark: SparkSession, root: String,
      belowBatch: Long): (Option[Long], Seq[Long]) =
    StoreProtocol.visible(spark, root, belowBatch, "signature store")

  /** Union the compact snapshot and the live batch dirs of one table,
    * projected to `cols` after an optional bucket prune. All sources are
    * read as EXPLICIT `bucket=` paths (batch bucket sets come from the
    * commit markers, the snapshot's from one listing of its dir): eager
    * partition discovery over batches × buckets directories would
    * otherwise grow with loop age — the cost class PERF_NOTES "Durable ANN
    * index vs brute force" measured on the ANN store. The two file sets
    * are read separately (their partition-column layouts differ) and
    * unioned by name.
    */
  private def readTable(
      spark: SparkSession, root: String, table: String, schema: StructType,
      gen: Option[Long], batches: Seq[Long],
      bucketFilter: Option[Seq[Int]], cols: Seq[String]): Option[DataFrame] = {
    val f = fs(spark, root)
    val keep = bucketFilter.map(_.toSet)
    def wanted(present: Seq[Int]): Seq[Int] =
      keep.fold(present)(ks => present.filter(ks))
    val dataSchema = StructType(schema.filterNot(_.name == "batch"))
    val compactPart = gen.filter(k => f.exists(new Path(s"$root/$table/c$k")))
      .flatMap { k =>
      val base = s"$root/$table/c$k"
      val present = f.listStatus(new Path(base)).map(_.getPath.getName)
        .filter(_.startsWith("bucket="))
        .map(_.stripPrefix("bucket=").toInt).toSeq
      val paths = wanted(present).map(b => s"$base/bucket=$b")
      if (paths.isEmpty) None
      else {
        // snapshot rows derive from batches <= the compaction horizon;
        // stamping that horizon as their batch makes tombstone recency
        // (`row.batch < tomb.batch`) uniform across snapshot + live rows
        val snapBatch = StoreProtocol.compactState(spark, root)
          .map(_._2).getOrElse(-1L)
        Some(spark.read.schema(dataSchema)
          .option("basePath", base).parquet(paths: _*)
          .withColumn("batch", lit(snapBatch)))
      }
    }
    val batchPaths = batches.flatMap { b =>
      wanted(batchBuckets(spark, root, table, b))
        .map(k => s"$root/$table/batch=$b/bucket=$k")
    }
    val batchPart =
      if (batchPaths.isEmpty) None
      else Some(spark.read.schema(schema)
        .option("basePath", s"$root/$table").parquet(batchPaths: _*))
    (compactPart.toSeq ++ batchPart.toSeq)
      .map(_.select(cols.map(col): _*))
      .reduceOption(_ unionByName _)
  }

  /** Retire `ids` from the standing index as batch `batchId` — the
    * right-to-be-forgotten path (the operation the reference DECLARED —
    * `UrlDBFunction.java:76` `_archivedUrls` MapState — but never wrote
    * to, `:467` reads it only). Writes ONE tombstone file + marker
    * (delete-set-bounded, never index-sized); [[matches]]/[[sigsView]]
    * exclude tombstoned rows by a broadcast anti-join, and [[compact]]
    * physically drops both the dead rows and the applied tombstones.
    * A retired id can be re-appended by any LATER batch (tombstones kill
    * only rows older than themselves). Idempotent per batchId: a re-run
    * whose batch already committed with the SAME delete-set digest is a
    * no-op (Takedown.resume's replay), an uncommitted crash's retry
    * overwrites its own file and re-marks; a DIFFERENT retirement or a
    * data batch under this id is refused.
    */
  def retire(
      spark: SparkSession, root: String, ids: DataFrame, idCol: String,
      batchId: Long): Unit = {
    if (readMeta(spark, root).isEmpty) return // no store: nothing to kill
    compactState(spark, root).foreach { case (_, upTo) =>
      require(batchId > upTo,
        s"store at $root is compacted through batch $upTo; retiring as " +
          s"batch $batchId would be invisible to every reader")
    }
    val digest = StoreProtocol.tombsDigest(ids, idCol)
    if (StoreProtocol.retireAlreadyCommitted(spark, root, batchId, digest))
      return // committed re-run: state already holds this retirement
    val bytes = StoreProtocol.writeTombstones(spark, root, ids, idCol, batchId)
    StoreProtocol.writeBucketMarker(spark, root, batchId,
      Seq("bands", "sigs", "tombs"),
      extraLines = Seq(StoreProtocol.tombsetLine(digest),
        StoreProtocol.tombBytesLine(bytes)))
  }

  /** The live tombstone set visible at `belowBatch` (None = no visible
    * retirement — readers then skip the anti-join entirely).
    */
  private def tombstones(
      spark: SparkSession, root: String,
      batches: Seq[Long]): Option[DataFrame] =
    StoreProtocol.readTombstones(spark, root, batches)

  /** The index as a plain (doc_id, sig) frame over committed batches —
    * the equality bridge to the `v=`-versioned layout (and the view a
    * batch-mode caller like [[TextOps.crossDedupPairs]] wants).
    */
  def sigsView(
      spark: SparkSession, root: String,
      belowBatch: Long = Long.MaxValue): DataFrame = {
    val (gen, batches) = visible(spark, root, belowBatch)
    val tombs = tombstones(spark, root, batches)
    readTable(spark, root, "sigs", sigsSchema, gen, batches,
      None, Seq("doc_id", "sig", "batch"))
      .map(rows => StoreProtocol.applyTombstones(rows, "doc_id", tombs)
        .select("doc_id", "sig"))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("sig", ArrayType(LongType))))))
  }

  /** Merge all committed batches EXCEPT the newest `keepNewest` (and any
    * previous compact snapshot) into one file per bucket per table —
    * the small-files countermeasure for a loop that appends one dir per
    * micro-batch forever. Single-writer operation (run it between
    * batches, from the loop that owns the store). Newest batches stay
    * uncompacted so a RETRIED batch's read fence (`belowBatch` = its own
    * id) can still exclude its previous append.
    *
    * Commit protocol: new `c<gen+1>` dirs land fully, then the one-line
    * `_COMPACT` pointer flips, then superseded sources (old compact gen,
    * covered batch dirs) are deleted — a crash leaves either the old
    * state fully readable or the new state committed with orphan dirs.
    */
  def compact(
      spark: SparkSession, root: String, keepNewest: Int = 1): Unit = {
    val (prevGen, prevUpTo) = compactState(spark, root).getOrElse((-1L, -1L))
    val all = committedBatches(spark, root).filter(_ > prevUpTo)
    if (all.size <= keepNewest) return // nothing worth merging
    val cover = all.dropRight(keepNewest)
    val upTo = cover.last
    val gen = prevGen + 1
    // covered tombstones are APPLIED here (every row they can kill has
    // batch < tb <= upTo and folds through this merge) and then dropped
    // by the cleanup — retirement becomes physical at compaction
    val coveredTombs = tombstones(spark, root, cover)
    // the two table folds are independent read→write jobs into disjoint
    // c<gen> dirs — run them concurrently (guide §2.6; the pointer flip
    // below happens only after BOTH land, so the commit point is unmoved)
    graft.util.Par.run(
      Seq(("bands", bandsSchema, "band_hash", "doc_id"),
          ("sigs", sigsSchema, "doc_id", "doc_id"))
        .map { case (table, schema, sortKey, tombKey) => () =>
          // cover.nonEmpty does NOT imply rows exist: empty micro-batches
          // commit markers with empty bucket lists, so every covered batch
          // can have written zero files. Nothing to merge for this table →
          // skip the write (readTable tolerates a missing c<gen> dir) but
          // still advance the pointer and reclaim the covered dirs below.
          readTable(spark, root, table, schema,
            if (prevGen >= 0) Some(prevGen) else None, cover,
            None, schema.map(_.name))
            .foreach { merged =>
              StoreProtocol.applyTombstones(merged, tombKey, coveredTombs)
                .drop("batch")
                .repartition(col("bucket"))
                .sortWithinPartitions("bucket", sortKey)
                .write.mode("overwrite").partitionBy("bucket")
                .parquet(s"$root/$table/c$gen")
            }
        }: _*)
    StoreProtocol.writeCompactPointer(spark, root, gen, upTo)
    // reclaim EVERYTHING the new pointer supersedes (not only this
    // pass's cover — heals leftovers from a crash-after-flip), applied
    // tombstones included
    StoreProtocol.cleanupCompacted(spark, root, Seq("bands", "sigs", "tombs"))
  }

  /** An observed `collect_set` metric as a Seq[Int] (empty set over an
    * empty frame comes back as an empty array, not null).
    */
  private def intSetMetric(v: Any): Seq[Int] = v match {
    case s: Seq[_] => s.map(_.asInstanceOf[Number].intValue)
    case null      => Seq.empty
    case other => throw new IllegalStateException(
      s"unexpected observed metric $other")
  }

  private def emptyMatches(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("new_id", LongType),
        StructField("corpus_id", LongType),
        StructField("jaccard_est", DoubleType))))

  /** (new_id, corpus_id, jaccard_est ≥ threshold) between a batch's
    * signatures and the standing index — the [[CorpusIngest.crossPairs]]
    * semantics with the index side read pre-exploded and bucket-pruned.
    * Only batches `< belowBatch` are visible (a retried batch must not
    * match against its own half-committed append).
    *
    * Fan-out note: when the store is fed by the [[CorpusIngest]] loop,
    * the index is DEDUP-SPARSE by construction — only docs that matched
    * nothing were ever appended — so a new doc's band keys collide with
    * a bounded set of mutually-dissimilar index entries; the
    * duplicate-cluster blowup LSH suffers on raw corpora (one hot band
    * key → a million-row candidate explosion) cannot arise from data
    * the loop itself admitted. An index bulk-seeded from an UNdeduped
    * corpus does not get this guarantee: dedup the seed first (the
    * [[TrainingCorpus]] dedup stage) before `append`ing it.
    */
  def matches(
      spark: SparkSession, root: String, batchSigs: DataFrame,
      threshold: Double, belowBatch: Long = Long.MaxValue): DataFrame = {
    val meta = readMeta(spark, root).getOrElse(return emptyMatches(spark))
    val (gen, batches) = visible(spark, root, belowBatch)
    if (gen.isEmpty && batches.isEmpty) return emptyMatches(spark)
    // live retirements (bounded by deletes since the last compaction);
    // None in the steady state — the anti-joins below then cost nothing
    val tombs = tombstones(spark, root, batches)

    val pinned = batchSigs.select(col("doc_id"), col("sig"))
      .filter(element_at(col("sig"), 1).isNotNull)
      .localCheckpoint(true)
    // the touched-bucket prune set (≤ meta.buckets ints) rides the
    // checkpoint's materializing job as an observed collect_set — no
    // separate distinct+collect job per batch
    val bandsObs = new org.apache.spark.sql.Observation()
    val batchBands = pinned
      .select(col("doc_id").as("new_id"),
        explode(TextOps.bandKeysUdf(meta.numBands, meta.bandSize)(col("sig")))
          .as("band_key"))
      .select(col("new_id"), xxhash64(col("band_key")).as("band_hash"))
      .distinct()
      .withColumn("bucket", bandBucket(meta))
      .observe(bandsObs, sort_array(collect_set(col("bucket"))).as("touched"))
      .localCheckpoint(true)
    val touched = intSetMetric(bandsObs.get.getOrElse("touched", null))
    if (touched.isEmpty) return emptyMatches(spark)

    // the touched buckets can intersect NO written bucket dir of any
    // visible source (empty first micro-batch, or a young store disjoint
    // from a novel batch's band keys) — zero matches, not a crash
    val bands = readTable(spark, root, "bands", bandsSchema, gen, batches,
      Some(touched), Seq("band_hash", "doc_id", "batch"))
      .map(rows =>
        StoreProtocol.applyTombstones(rows, "doc_id", tombs).drop("batch"))
      .getOrElse(return emptyMatches(spark))
    // candidate pairs: index scan streams through a broadcast of the
    // batch side — no index-sized shuffle; the candidates' sig-bucket
    // prune set rides the same materializing job
    val candObs = new org.apache.spark.sql.Observation()
    val cand = bands
      .join(broadcast(batchBands.select("band_hash", "new_id")), Seq("band_hash"))
      .select(col("new_id"), col("doc_id").as("corpus_id"))
      .distinct()
      .observe(candObs, sort_array(
        collect_set(docBucket(meta, col("corpus_id")))).as("cand_buckets"))
      .localCheckpoint(true) // bounded by batch matches; pins the prune set
    val candBuckets = intSetMetric(candObs.get.getOrElse("cand_buckets", null))
    if (candBuckets.isEmpty) return emptyMatches(spark)

    // the sigs read must ALSO exclude tombstoned rows: a doc retired and
    // later re-appended has a live bands row but TWO sigs rows — without
    // the recency anti-join the stale signature would duplicate (and
    // possibly mis-score) the candidate
    val sigs = readTable(spark, root, "sigs", sigsSchema, gen, batches,
      Some(candBuckets), Seq("doc_id", "sig", "batch"))
      .map(rows =>
        StoreProtocol.applyTombstones(rows, "doc_id", tombs).drop("batch"))
      .getOrElse(return emptyMatches(spark))
      .select(col("doc_id").as("corpus_id"), col("sig").as("sig_b"))
    sigs
      .join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(pinned.select(col("doc_id").as("new_id"),
        col("sig").as("sig_a"))), Seq("new_id"))
      .withColumn("jaccard_est",
        expr(s"size(filter(zip_with(sig_a, sig_b, (a, b) -> a = b)," +
          s" m -> m)) / cast(${meta.numHashes} as double)"))
      .filter(col("jaccard_est") >= threshold)
      .select("new_id", "corpus_id", "jaccard_est")
  }
}
