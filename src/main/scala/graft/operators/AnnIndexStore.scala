package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.VectorExpressions
import graft.util.StoreProtocol

/** Durable IVF index over a GROWING embedding corpus — the
  * similarity-search twin of [[SignatureIndexStore]] (and the third
  * standing index beside it and [[graft.crawl.FrontierStore]]): a
  * continuous pipeline embeds each accepted batch and needs
  * nearest-neighbor lookups against everything indexed so far, without
  * re-reading or re-assigning the standing corpus per query.
  *
  * Layout under `root`:
  * {{{
  *   _META                          dim / centroids (pinned at build)
  *   centroids/part-*.parquet       (cent_id, cv) — the trained coarse quantizer
  *   _commit_<batchId>              marker: batch fully appended
  *   vecs/batch=<id>/cell=<c>/      (vid, v, n) — partitioned by assigned cell
  * }}}
  *
  * Properties:
  *  - **Append-only**: a batch writes only its own vectors, pre-assigned
  *    to their nearest centroid (broadcast centroids, one narrow pass —
  *    [[Similarity.ivfAssign]]); assignment happens ONCE, at append,
  *    never again at query time. Retried batch ids overwrite their own
  *    dir and re-mark.
  *  - **Cell pruning**: a query ranks centroids driver-free (broadcast),
  *    takes its `nprobe` nearest cells, and the store reads ONLY those
  *    `cell=` partitions across committed batches — k/C of the index for
  *    a point query, the IVF contract made durable.
  *  - **Frozen quantizer**: centroids are pinned at build (re-training
  *    them in place would strand every already-assigned vector in a
  *    stale cell). The standard IVF practice — train on a representative
  *    sample, then append forever. When the corpus drifts, [[rebuild]]
  *    retrains on the standing corpus into a FRESH root and
  *    [[setCurrent]] flips the active-root pointer atomically.
  *
  * Recall follows the nprobe/centroid geometry measured in PERF_NOTES
  * "ANN recall on CLUSTERED embeddings" (km-IVF .956/.995 at nprobe 1/2);
  * with `nprobe = centroids` the search is exhaustive and EXACTLY equals
  * brute-force cosine top-K (spec-pinned).
  */
object AnnIndexStore {

  final case class Meta(dim: Int, centroids: Int)

  // commit/fence/compaction protocol shared across the standing stores —
  // see graft.util.StoreProtocol for the layout and atomicity contract
  private def fs(spark: SparkSession, root: String) =
    StoreProtocol.fs(spark, root)

  def readMeta(spark: SparkSession, root: String): Option[Meta] =
    StoreProtocol.readMetaKv(spark, root).map(kv =>
      Meta(kv("dim").toInt, kv("centroids").toInt))

  def committedBatches(spark: SparkSession, root: String): Seq[Long] =
    StoreProtocol.committedBatches(spark, root)

  def centroids(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/centroids")

  /** Train the coarse quantizer (hash-sampled seeds refined by Lloyd
    * rounds — [[Similarity.kmeansRefine]]) and index `corpus` as batch 0.
    *
    * Seed sampling is ONE TakeOrdered pass — the `numCentroids` rows with
    * the smallest id hashes (a uniform hash sample, deterministic), each
    * executor contributing at most `numCentroids` partial rows. No
    * corpus `count()` pass, no global single-partition `limit` funnel;
    * the cardinality floor falls out of the sample's own (bounded) count.
    */
  def build(
      spark: SparkSession, root: String, corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int, numCentroids: Int,
      lloydRounds: Int = 3,
      /** Store batch id for the initial index — a LOOP creating the store
        * from its stream batch `b` must pass `b` so a retry's read fence
        * (`belowBatch = b`) can exclude the crashed attempt's own append.
        */
      firstBatchId: Long = 0L): Unit = {
    val seeds = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(numCentroids)
      .localCheckpoint(true)
    val nSeeds = seeds.count() // local: the checkpointed ≤numCentroids rows
    require(nSeeds == numCentroids.toLong,
      s"corpus has only $nSeeds rows — smaller than $numCentroids cells")
    val trained = Similarity.kmeansRefine(
      corpus, seeds, idCol, vecCol, dim, lloydRounds)
    trained.write.mode("overwrite").parquet(s"$root/centroids")
    StoreProtocol.writeMetaKv(spark, root, Seq(
      "dim" -> dim.toString, "centroids" -> numCentroids.toString))
    append(spark, root, corpus, idCol, vecCol, firstBatchId)
  }

  /** Assign `df`'s vectors to their nearest (pinned) centroid and append
    * them as batch `batchId` — one file per cell per batch.
    */
  def append(
      spark: SparkSession, root: String, df: DataFrame,
      idCol: String, vecCol: String, batchId: Long,
      /** Ids retired atomically with this batch's commit (the streaming-
        * loop form — see [[SignatureIndexStore.append]]'s twin param).
        */
      retireIds: Option[DataFrame] = None,
      retireIdCol: String = "id"): Unit = {
    val meta = readMeta(spark, root).getOrElse(
      throw new IllegalStateException(s"no ANN store at $root — build first"))
    require(df.schema(vecCol).dataType ==
        ArrayType(FloatType, containsNull = true) ||
      df.schema(vecCol).dataType == ArrayType(FloatType, containsNull = false),
      s"$vecCol must be array<float> (the store's on-disk vector type); " +
        s"got ${df.schema(vecCol).dataType.simpleString} — cast before append")
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
    // the vecs write and the tombstone write (combined data+retire
    // commit) are independent jobs into disjoint batch-scoped dirs —
    // overlap them (guide §2.6); the marker below stays the commit point
    var tombBytesV: Option[Long] = None
    graft.util.Par.run(
      () => Similarity.ivfAssign(df, idCol, vecCol,
          centroids(spark, root), "cent_id", "cv", meta.dim)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$root/vecs/batch=$batchId"),
      () => tombBytesV = retireIds.map(ids =>
        StoreProtocol.writeTombstones(spark, root, ids, retireIdCol, batchId)))
    retireIds match {
      case Some(ids) =>
        val bytes = tombBytesV.get
        // the digest line marks this as a combined data+retire commit:
        // a later standalone retire can no-op on an exact re-run but can
        // never hijack the id with a DIFFERENT tombstone set (which
        // would resurrect this batch's retirements while its vecs data
        // stays live)
        StoreProtocol.writeBucketMarker(spark, root, batchId, Seq("tombs"),
          extraLines = Seq(
            StoreProtocol.tombsetLine(
              StoreProtocol.tombsDigest(ids, retireIdCol)),
            StoreProtocol.tombBytesLine(bytes)))
      case None =>
        StoreProtocol.writeCommitMarker(spark, root, batchId, "")
    }
  }

  private val vecsSchema = StructType(Seq(
    StructField("vid", LongType), StructField("v", ArrayType(FloatType)),
    StructField("n", DoubleType), StructField("batch", LongType),
    StructField("cell", LongType)))

  /** Latest compaction state: (generation, coveredUpTo) — same pointer
    * discipline as [[SignatureIndexStore.compactState]].
    */
  def compactState(spark: SparkSession, root: String): Option[(Long, Long)] =
    StoreProtocol.compactState(spark, root)

  /** Sources visible to a reader fenced at `belowBatch` — the
    * [[SignatureIndexStore.visible]] discipline: a retried ingest batch
    * must not see its own half-committed append, and a fence at or below
    * the compaction horizon cannot be served (compact()'s keep-newest
    * policy makes that unreachable from a loop).
    */
  private def visible(
      spark: SparkSession, root: String,
      belowBatch: Long = Long.MaxValue): (Option[Long], Seq[Long]) =
    StoreProtocol.visible(spark, root, belowBatch, "ANN store")

  /** Read exactly the probed cells' directories as EXPLICIT paths —
    * a basePath read with a partition filter would first list every
    * `cell=` directory of every source (partition discovery is eager),
    * which at thousands of cells costs more than the pruned scan itself
    * (measured: ~1 s of listing at 1024 cells). Existence checks are
    * driver-side and bounded by sources × probed cells.
    */
  private def readVecs(
      spark: SparkSession, root: String, gen: Option[Long],
      batches: Seq[Long], cells: Seq[Long]): DataFrame = {
    val f = fs(spark, root)
    val dataSchema = StructType(vecsSchema.filterNot(_.name == "batch"))
    def readCells(base: String, srcBatch: Long): Option[DataFrame] = {
      val paths = cells.map(c => s"$base/cell=$c")
        .filter(p => f.exists(new Path(p)))
      if (paths.isEmpty) None
      else Some(spark.read.schema(dataSchema)
        .option("basePath", base).parquet(paths: _*)
        // rows never carry their batch on disk (it is the dir name);
        // stamp the source's batch — snapshot rows get the compaction
        // horizon — so tombstone recency is decidable per row
        .select(col("vid"), col("v"), col("n"), col("cell"),
          lit(srcBatch).as("batch")))
    }
    val snapBatch = compactState(spark, root).map(_._2).getOrElse(-1L)
    val parts =
      gen.flatMap(k => readCells(s"$root/vecs/c$k", snapBatch)).toSeq ++
        batches.flatMap(b => readCells(s"$root/vecs/batch=$b", b))
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        vecsSchema)
        .select("vid", "v", "n", "cell", "batch")
    else parts.reduce(_ unionByName _)
  }

  /** Total on-disk bytes of the probed cells across all visible sources
    * — the driver-side size probe behind [[query]]'s index-broadcast
    * branch. Cost: one `getContentSummary` per existing (source, cell)
    * dir — bounded by sources × probed cells, the same class as
    * [[readVecs]]'s existence checks.
    */
  private def probedCellBytes(
      spark: SparkSession, root: String, gen: Option[Long],
      batches: Seq[Long], cells: Seq[Long]): Long = {
    val f = fs(spark, root)
    val bases = gen.map(k => s"$root/vecs/c$k").toSeq ++
      batches.map(b => s"$root/vecs/batch=$b")
    bases.flatMap(base => cells.map(c => new Path(s"$base/cell=$c")))
      .filter(f.exists)
      .map(p => f.getContentSummary(p).getLength)
      .sum
  }

  /** Retire `vids` from the standing index as batch `batchId` — one
    * tombstone file + marker (delete-set-bounded); [[query]] excludes
    * tombstoned vectors by a broadcast anti-join and [[compact]] drops
    * them physically (applied tombstones are reclaimed with the covered
    * batches). A retired vid re-appended by a LATER batch is live again.
    * Idempotent per batchId: a committed re-run with the SAME delete-set
    * digest is a no-op; a DIFFERENT retirement or a data/combined batch
    * under this id is refused (the digest-guard — reusing a committed
    * combined append's id with foreign ids would silently resurrect its
    * retirements while its vectors stay live).
    *
    * Erasure scope: tombstone + compact removes the retired VECTORS;
    * the coarse quantizer's centroids remain k-means aggregates that
    * were trained on them (raw values are not recoverable from a mean,
    * but a strict right-to-be-forgotten reading wants the training
    * influence gone too). Full erasure is the two-step
    * `retire` → [[rebuild]] + [[setCurrent]]: rebuild reads only
    * survivors ([[allVecs]] applies the tombstones), so the new root's
    * quantizer is trained on survivors only — spec-pinned equal to a
    * from-scratch build over the survivors.
    */
  def retire(
      spark: SparkSession, root: String, vids: DataFrame, idCol: String,
      batchId: Long): Unit = {
    if (readMeta(spark, root).isEmpty) return
    compactState(spark, root).foreach { case (_, upTo) =>
      require(batchId > upTo,
        s"store at $root is compacted through batch $upTo; retiring as " +
          s"batch $batchId would be invisible to every reader")
    }
    val digest = StoreProtocol.tombsDigest(vids, idCol)
    if (StoreProtocol.retireAlreadyCommitted(spark, root, batchId, digest))
      return // committed re-run: state already holds this retirement
    val bytes = StoreProtocol.writeTombstones(spark, root, vids, idCol, batchId)
    StoreProtocol.writeBucketMarker(spark, root, batchId, Seq("tombs"),
      extraLines = Seq(StoreProtocol.tombsetLine(digest),
        StoreProtocol.tombBytesLine(bytes)))
  }

  /** Fold all but the newest `keepNewest` batches (and the previous
    * snapshot) into one file per cell — [[SignatureIndexStore.compact]]'s
    * protocol on the vecs table (assignments are immutable, so
    * compaction is a pure file merge; no fence subtleties here because
    * queries have no `belowBatch` — an ANN lookup always wants the whole
    * standing index).
    */
  def compact(
      spark: SparkSession, root: String, keepNewest: Int = 1): Unit = {
    val (prevGen, prevUpTo) = compactState(spark, root).getOrElse((-1L, -1L))
    val all = committedBatches(spark, root).filter(_ > prevUpTo)
    if (all.size <= keepNewest) return
    val cover = all.dropRight(keepNewest)
    val gen = prevGen + 1
    val dataSchema = StructType(vecsSchema.filterNot(_.name == "batch"))
    val f = fs(spark, root)
    // retire-only batches committed a marker but no vecs dir
    val coverPaths = cover.map(b => s"$root/vecs/batch=$b")
      .filter(p => f.exists(new Path(p)))
    val parts =
      (if (prevGen >= 0)
        Seq(spark.read.schema(dataSchema)
          .option("basePath", s"$root/vecs/c$prevGen")
          .parquet(s"$root/vecs/c$prevGen")
          .select(col("vid"), col("v"), col("n"), col("cell"),
            lit(prevUpTo).as("batch")))
      else Seq.empty) ++
        (if (coverPaths.isEmpty) Seq.empty
         else Seq(spark.read.schema(vecsSchema)
           .option("basePath", s"$root/vecs")
           .parquet(coverPaths: _*)
           .select("vid", "v", "n", "cell", "batch")))
    // covered tombstones become PHYSICAL here (every row they can kill
    // folds through this merge) and are reclaimed by the cleanup; a cover
    // of retire-only batches has nothing to merge (readVecs tolerates a
    // missing c<gen> dir) but still advances the pointer below
    val coveredTombs = StoreProtocol.readTombstones(spark, root, cover)
    parts.reduceOption(_ unionByName _).foreach { merged =>
      StoreProtocol.applyTombstones(merged, "vid", coveredTombs)
        .drop("batch")
        .repartition(col("cell"))
        .sortWithinPartitions("cell", "vid")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$root/vecs/c$gen")
    }
    StoreProtocol.writeCompactPointer(spark, root, gen, cover.last)
    // reclaim everything at/below the new horizon (crash-after-flip safe)
    StoreProtocol.cleanupCompacted(spark, root, Seq("vecs", "tombs"))
  }

  /** Top-K cosine neighbors from the standing index for each query
    * vector, probing each query's `nprobe` nearest cells — only those
    * `cell=` partitions are read (partition-pruned scan), the IVF cost
    * contract at any index size. Queries whose `vid` equals an indexed
    * id skip themselves (the corpus-member convention of
    * [[Similarity.ivfTopKProbed]]).
    *
    * Size-switched join (the [[graft.sources.CdxLookup]] `filterIn`
    * discipline): at or below `broadcastMaxProbes` probe rows
    * (queries × nprobe) the probe side is broadcast and the pruned index
    * scan streams through it — the trickle/point-lookup shape. Above it
    * — e.g. re-deduplicating a whole day's embeddings against the store —
    * broadcasting millions of float vectors would be the scale killer;
    * there the switch looks at the INDEX side next: the probed cells'
    * on-disk byte size is known driver-side from the explicit paths, so
    * a big batch against a SMALL probed index (at or below
    * `broadcastMaxIndexBytes`) broadcasts the index instead — the probe
    * side keeps its full input parallelism, and the final per-query
    * window prunes map-side (WindowGroupLimit, the q04 pattern). Only
    * when BOTH sides are big do the two shuffle on `cell` (sort-merge
    * join, plan-pinned), each (query, cell) group reduced to its local
    * top-K BEFORE the global per-query window: the cell hash
    * partitioning already co-locates (query, cell) groups, so the reduce
    * adds a sort but no extra shuffle, and the final window sees
    * ≤ nprobe × k rows per query instead of whole cells. (The
    * cell-shuffle fallback needs a fine quantizer to parallelize —
    * task count ≤ probed cells — which production-sized centroid counts
    * provide; the index-broadcast branch is what keeps a COARSE
    * quantizer from collapsing a big batch onto a handful of tasks.)
    */
  def query(
      spark: SparkSession, root: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      broadcastMaxProbes: Long = 10000L,
      broadcastMaxIndexBytes: Long = 256L << 20,
      belowBatch: Long = Long.MaxValue): DataFrame = {
    val meta = readMeta(spark, root).getOrElse(
      throw new IllegalStateException(s"no ANN store at $root — build first"))
    val (gen, batches) = visible(spark, root, belowBatch)
    // a store whose only append is the (fenced-out) caller's own retry
    // has no standing data: zero neighbors, not an error
    if (gen.isEmpty && batches.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType),
          StructField("neighbor_id", LongType),
          StructField("cos", DoubleType), StructField("rn", LongType))))

    val c = centroids(spark, root)
      .select(col("cent_id"), col("cv"),
        VectorExpressions.norm(col("cv")).as("cn"))
    val q0 = queries.select(col(idCol).as("qvid"), col(vecCol).as("qv"),
      VectorExpressions.norm(col(vecCol)).as("qn"))
    val pw = Window.partitionBy(col("qvid"))
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    // the cell prune set and the probe-row count ride the checkpoint's
    // materializing job as observed metrics (the LabelStore.lookup
    // discipline) — no separate distinct+collect and count jobs per query
    val obs = new org.apache.spark.sql.Observation()
    val probes = q0.join(broadcast(c))
      .select(col("qvid"), col("qv"), col("qn"), col("cent_id"),
        (VectorExpressions.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("cent_cos"))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("qvid"), col("qv"), col("qn"), col("cent_id").as("cell"))
      .observe(obs,
        sort_array(collect_set(col("cell"))).as("cells"),
        count(lit(1)).as("n"))
      .localCheckpoint(true) // pins the prune set the metrics read
    val obsRow = obs.get
    // ≤ queries × nprobe cells — the partition-prune driver set
    val cells = obsRow.getOrElse("cells", null) match {
      case s: Seq[_] => s.map(_.asInstanceOf[Number].longValue).toSeq
      case null      => Seq.empty[Long]
      case other => throw new IllegalStateException(
        s"unexpected observed metric $other")
    }
    // live retirements excluded merge-on-read (None in the steady state)
    val tombs = StoreProtocol.readTombstones(spark, root, batches)
    val vecs = StoreProtocol
      .applyTombstones(readVecs(spark, root, gen, batches, cells),
        "vid", tombs)
      .drop("batch")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val cond =
      col("q.cell") === col("c.cell") && col("q.qvid") =!= col("c.vid")
    // rode the checkpoint job as an observed count (no count() job)
    val probeRows = obsRow.getOrElse("n", null) match {
      case x: java.lang.Long => x.longValue()
      case _                 => 0L
    }
    val smallIndex = probedCellBytes(spark, root, gen, batches, cells) <=
      broadcastMaxIndexBytes
    // a SMALL probed index arrives as a handful of tiny files, which the
    // scan coalesces into one or two partitions — fine for the scan, a
    // parallelism collapse for the dot-product join ON TOP of it (the
    // scored pair count is |probes| × |probed vectors| however few
    // partitions carry them). Spreading a small index is by definition
    // cheap; a big index already scans wide and is never reshuffled here.
    val vecsSpread =
      if (smallIndex)
        vecs.repartition(spark.sparkContext.defaultParallelism)
      else vecs
    val scored =
      if (probeRows <= broadcastMaxProbes)
        // r17 kernel (see Similarity.cosineTopK): the broadcast join
        // materialized |probes| x |cell vectors| joined rows carrying
        // both vectors; the kernel streams the index once with bounded
        // per-query buffers and emits only per-partition survivors.
        // Fallback = the original join for non-standard schemas.
        Similarity.kernelProbes(probes) match {
          case Some(ps) =>
            Similarity.cellTopKCandidates(vecs, ps, k)
          case None =>
            broadcast(probes.as("q")).join(vecsSpread.as("c"), cond)
              .select(col("q.qvid").as("query_id"),
                col("c.vid").as("neighbor_id"), col("c.cell"),
                (VectorExpressions.dot(col("q.qv"), col("c.v")) /
                  (col("q.qn") * col("c.n"))).as("cos"))
        }
      else if (smallIndex)
        // big batch vs SMALL probed index: the index side rides task-
        // local (bounded by broadcastMaxIndexBytes — the bound its
        // broadcast already implied) and the probe side streams,
        // re-spread to the task slots (its checkpoint materialized
        // behind an AQE-coalesced exchange, so a byte-light probe set
        // collapses to one partition there). The kernel emits each
        // probe's exact within-cell top-K instead of materializing
        // (|probes| x |cell vectors|) joined rows.
        Similarity.kernelProbes(vecs.select(
            col("vid"), col("v"), col("n"), col("cell"))) match {
          case Some(ix) =>
            Similarity.indexSideTopKCandidates(
              probes.select(col("qvid"), col("qv"), col("qn"), col("cell")),
              ix, k)
          case None =>
            probes.repartition(spark.sparkContext.defaultParallelism).as("q")
              .join(broadcast(vecs.as("c")), cond)
              .select(col("q.qvid").as("query_id"),
                col("c.vid").as("neighbor_id"), col("c.cell"),
                (VectorExpressions.dot(col("q.qv"), col("c.v")) /
                  (col("q.qn") * col("c.n"))).as("cos"))
        }
      else {
        // merge-hinted so the plan stays a shuffle join even when a test
        // -scale side slips under the broadcast threshold — the whole
        // point of this branch is that NEITHER side is driver-collected
        // or broadcast
        val perCell = Window.partitionBy(col("query_id"), col("cell"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        probes.as("q").join(vecs.as("c").hint("merge"), cond)
          .select(col("q.qvid").as("query_id"),
            col("c.vid").as("neighbor_id"), col("c.cell"),
            (VectorExpressions.dot(col("q.qv"), col("c.v")) /
              (col("q.qn") * col("c.n"))).as("cos"))
          // local top-K inside each (query, cell): hash(cell) already
          // co-locates these groups, so this is a sort, not a shuffle
          .withColumn("crn", row_number().over(perCell))
          .filter(col("crn") <= k)
          .drop("crn")
      }
    // filter on the RAW rank, cast after: the rank-filter-on-window
    // pattern is what WindowGroupLimit rewrites into a map-side prune —
    // a cast between the rank and the filter can hide the pattern
    scored
      .withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
      .withColumn("rn", col("__rnk").cast("bigint"))
      .drop("cell", "__rnk")
  }

  /** Every indexed vector as (vid, v) — the whole-index read that
    * [[rebuild]] retrains on (one-time passes may discover partitions
    * eagerly; the per-query path never does).
    */
  private def allVecs(spark: SparkSession, root: String): DataFrame = {
    val (gen, batches) = visible(spark, root)
    require(gen.nonEmpty || batches.nonEmpty,
      s"ANN store at $root holds no data")
    val snapBatch = compactState(spark, root).map(_._2).getOrElse(-1L)
    val dataSchema = StructType(vecsSchema.filterNot(_.name == "batch"))
    val f = fs(spark, root)
    // retire-only batches committed a marker but no vecs dir
    val dataPaths = batches.map(b => s"$root/vecs/batch=$b")
      .filter(p => f.exists(new Path(p)))
    val parts =
      gen.map(k => spark.read.schema(dataSchema)
        .option("basePath", s"$root/vecs/c$k")
        .parquet(s"$root/vecs/c$k")
        .select(col("vid"), col("v"), lit(snapBatch).as("batch"))).toSeq ++
        (if (dataPaths.isEmpty) Seq.empty
         else Seq(spark.read.schema(vecsSchema)
           .option("basePath", s"$root/vecs")
           .parquet(dataPaths: _*)
           .select(col("vid"), col("v"), col("batch"))))
    // a rebuild must not resurrect retired vectors into the new root
    val tombs = StoreProtocol.readTombstones(spark, root, batches)
    StoreProtocol.applyTombstones(parts.reduce(_ unionByName _),
      "vid", tombs).select("vid", "v")
  }

  /** Retrain the coarse quantizer on the CURRENT standing corpus and
    * re-index everything under `newRoot` (batch 0) — the managed escape
    * from the frozen-quantizer drift problem: a store fed batches whose
    * distribution has moved away from the build-time sample loses recall
    * (cells no longer follow the data); retraining on what the store
    * holds NOW restores the geometry. The old root is untouched and
    * stays fully queryable until the caller flips the [[setCurrent]]
    * pointer — rebuild + flip is the atomic-switch pair.
    *
    * One whole-index read, one k-means (sample-seeded + Lloyd), one
    * [[Similarity.ivfAssign]] pass, one cell-partitioned write — all
    * corpus-sized, the unavoidable cost of re-binning every vector.
    *
    * This is also the FULL-ERASURE step after [[retire]]: the read
    * excludes tombstoned vids ([[allVecs]]), so the new root's quantizer
    * is trained on survivors only — no retired vector's influence
    * remains, not even as a k-means aggregate (spec-pinned equal to a
    * from-scratch build over the survivors). `retire` alone removes the
    * vectors; `retire` → `rebuild` → [[setCurrent]] removes the training
    * influence too.
    */
  def rebuild(
      spark: SparkSession, root: String, newRoot: String,
      numCentroids: Int, lloydRounds: Int = 3): Unit = {
    val meta = readMeta(spark, root).getOrElse(
      throw new IllegalStateException(s"no ANN store at $root — build first"))
    build(spark, newRoot, allVecs(spark, root), "vid", "v",
      meta.dim, numCentroids, lloydRounds)
  }

  /** The active-root pointer: `pointerDir/_CURRENT` names the root serving
    * queries. Writers [[rebuild]] into a fresh root, then flip the pointer
    * (temp-file write + rename, atomic on HDFS-like filesystems — the
    * [[graft.crawl.FrontierStore]] `_LATEST` discipline) — readers
    * resolve [[currentRoot]] per lookup and never
    * see a half-built index; the superseded root can be deleted once its
    * in-flight readers drain.
    */
  def setCurrent(spark: SparkSession, pointerDir: String, root: String): Unit = {
    val f = fs(spark, pointerDir)
    f.mkdirs(new Path(pointerDir))
    graft.util.FsAtomic.writePointer(f, new Path(pointerDir), "_CURRENT", root)
  }

  def currentRoot(spark: SparkSession, pointerDir: String): Option[String] = {
    val f = fs(spark, pointerDir)
    val p = new Path(pointerDir, "_CURRENT")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }
  }
}
