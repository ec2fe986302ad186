package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous corpus ingestion — the crawl-to-training-corpus bridge run
  * per batch/segment, against a STANDING corpus represented only by its
  * MinHash signature index (text is read once, when a doc is first
  * accepted; afterwards the corpus costs `numHashes` longs per doc):
  *
  *   1. cheap projection gates (token floor, optional language,
  *      repetition ceiling — the stage-1 semantics of
  *      [[TrainingCorpus.build]] at per-batch cost)
  *   2. within-batch exact dedup (md5 keep-min-id)
  *   3. within-batch near-dup dedup (signature-estimate pairs →
  *      [[Components]] clusters → keep cluster minimum)
  *   4. cross dedup against the signature index (band equi-join +
  *      estimator threshold; the [[TextOps.crossDedupPairs]] math with
  *      the corpus side PRECOMPUTED)
  *   5. append survivors' signatures to the index
  *
  * Returns survivors, the updated index, and the per-stage audit — the
  * loop state a scheduler persists between batches. Scale shape:
  * per-batch cost is batch-sized for every stage except the band join,
  * whose corpus side is the (bucketable, pre-partitionable) index —
  * nothing ever re-reads or re-shingles corpus text, which is what makes
  * the loop viable when the standing corpus is 100 TB and batches are
  * gigabytes.
  */
object CorpusIngest {

  final case class Config(
    shingleK: Int = 3, numHashes: Int = 16, bandSize: Int = 4,
    threshold: Double = 0.5,
    minTokens: Long = 5,
    lang: Option[String] = None,
    maxRepRatio: Double = 0.5,
    /** Bucket count for the durable [[SignatureIndexStore]] layout —
      * pinned at store creation (see [[SignatureIndexStore.append]]).
      */
    indexBuckets: Int = 64)

  /** Optional semantic (embedding-space) stage for the durable ingest
    * loop: accepted docs are embedded ([[TextOps.hashedEmbedding]] — the
    * sandbox encoder seam), cross-checked against the STANDING vectors in
    * a durable [[AnnIndexStore]] (SemDeDup semantics: drop a doc whose
    * nearest standing neighbor's cosine clears `threshold` — textual
    * near-dup machinery never sees a paraphrase, the embedding space
    * does), and survivors' vectors are appended — so the ANN index grows
    * with the corpus inside the same loop, retry-fenced like the
    * signature store.
    *
    * The store is created on the first batch with survivors (quantizer
    * trained on it, ≤ `numCentroids` cells); [[AnnIndexStore.rebuild]] is
    * the managed retrain when the corpus outgrows or drifts from that
    * first sample.
    */
  final case class AnnGate(
    root: String,
    dim: Int = 64,
    threshold: Double = 0.9,
    nprobe: Int = 4,
    numCentroids: Int = 8,
    /** LSH planes for the WITHIN-batch semantic pass (the standing pass
      * probes the store's pinned cells instead).
      */
    numPlanes: Int = 8)

  final case class Result(
    accepted: DataFrame,
    /** The standing index plus the accepted docs' signatures. */
    updatedIndex: DataFrame,
    /** (stage, docs surviving) in pipeline order. */
    audit: Seq[(String, Long)])

  /** Build the standing signature index from corpus text: one scan, one
    * (doc_id, sig) row per doc with a non-degenerate signature. Persist
    * this (parquet, bucketed by a band key at large scale) and never
    * touch corpus text again.
    */
  def signatureIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame =
    TextOps.minhashSignatures(corpus, idCol, textCol,
        cfg.shingleK, cfg.numHashes)
      .filter(element_at(col("sig"), 1).isNotNull)

  /** (new_id, corpus_id, jaccard_est ≥ threshold) pairs between a batch
    * signature frame and the standing index — band equi-join, estimator
    * verify, no text on either side.
    */
  def crossPairs(
      batchSigs: DataFrame, index: DataFrame, cfg: Config): DataFrame = {
    val numBands = cfg.numHashes / cfg.bandSize
    def bandsOf(sigs: DataFrame) = sigs
      .select(col("doc_id"),
        explode(TextOps.bandKeysUdf(numBands, cfg.bandSize)(col("sig")))
          .as("band_key"))
      .distinct()
    bandsOf(batchSigs).as("x")
      .join(bandsOf(index).as("y"), col("x.band_key") === col("y.band_key"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
      .join(batchSigs.select(col("doc_id").as("new_id"),
        col("sig").as("sig_a")), Seq("new_id"))
      .join(index.select(col("doc_id").as("corpus_id"),
        col("sig").as("sig_b")), Seq("corpus_id"))
      .withColumn("jaccard_est",
        expr(s"size(filter(zip_with(sig_a, sig_b, (a, b) -> a = b)," +
          s" m -> m)) / cast(${cfg.numHashes} as double)"))
      .filter(col("jaccard_est") >= cfg.threshold)
      .select("new_id", "corpus_id", "jaccard_est")
  }

  /** Stages 1–3 (gates, exact dedup, within-batch near-dup), shared by
    * both cross-dedup layouts. The returned frame carries a `sig` column
    * — the signature is computed ONCE, at the gates stage, and reused by
    * the within-batch band join, the cross join, and the index append.
    *
    * Gates also drop docs whose signature is DEGENERATE (fewer than
    * `shingleK` whitespace tokens ⇒ all-null sig): a doc the signature
    * index cannot represent must not be accepted, or identical copies of
    * it in later batches would be re-accepted forever (the cross-batch
    * dedup invariant is "every accepted doc is indexed").
    */
  /** Pin a stage's output and record its row count in ONE job: the count
    * rides the checkpoint's materializing action as an observed metric
    * (the [[Components.connectedComponentsWithStats]] convergence-probe
    * discipline). The naive per-stage `localCheckpoint + count()` pair
    * costs two fixed-overhead jobs per stage — noise at toy scale, real
    * money across thousands of micro-batches.
    */
  private def step(
      audit: scala.collection.mutable.ArrayBuffer[(String, Long)],
      name: String, df: DataFrame): DataFrame = {
    val obs = new org.apache.spark.sql.Observation()
    val pinned = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    val n = obs.get.getOrElse("n", null) match {
      case x: java.lang.Long => x.longValue()
      case _                 => 0L
    }
    audit += ((name, n))
    pinned
  }

  /** Returns (survivors, dedupPairs). The pair frame is LAZY — it costs
    * nothing unless consumed — and carries every within-batch duplicate
    * relation the pipeline judged: exact-fingerprint (dropped id, its
    * group's min id) plus the near-dup estimator pairs. The lineage fold
    * ([[ingestIndexed]]'s `labelsRoot`) is its consumer.
    *
    * `pinPairs`: set when that second consumer EXISTS — the band
    * self-join then runs once (checkpointed) instead of once for the
    * drop set and again inside [[LabelStore.fold]]'s pinning job. With
    * no lineage consumer the frames stay lazy and the self-join runs
    * exactly once either way.
    */
  private def batchPipeline(
      batch: DataFrame, idCol: String, textCol: String, cfg: Config,
      audit: scala.collection.mutable.ArrayBuffer[(String, Long)],
      pinPairs: Boolean = false)
      : (DataFrame, DataFrame) = {
    def step(name: String, df: DataFrame): DataFrame =
      CorpusIngest.step(audit, name, df)
    // pinning the input also collapses its double scan (the gates filter
    // and the repetition features both read it)
    val base = step("input",
      batch.select(col(idCol).as("doc_id"), col(textCol).as("text")))

    // 1. projection gates at batch cost (incl. the degenerate-sig drop)
    val langOk = cfg.lang.fold(lit(true))(l =>
      TextOps.predictLangUdf(col("text")) === l)
    val gated = step("gates", base
      .filter(TextOps.preTokenCount(col("text")) >= cfg.minTokens && langOk)
      .join(TextOps.repetitionFeatures(base, "doc_id", "text")
          .filter(col("rep_ratio") <= cfg.maxRepRatio).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .withColumn("sig", graft.plans.TextExpressions
        .minhash_sig(col("text"), cfg.shingleK, cfg.numHashes))
      .filter(element_at(col("sig"), 1).isNotNull))

    // 2. exact within-batch dedup: keep each fingerprint's min id
    val withKeep = gated
      .withColumn("__fp", md5(col("text")))
      .join(gated.groupBy(md5(col("text")).as("__fp"))
          .agg(min(col("doc_id")).as("__keep")),
        Seq("__fp"))
    val exactPairs = withKeep.filter(col("doc_id") =!= col("__keep"))
      .select(col("doc_id").as("id_a"), col("__keep").as("id_b"))
    val exact = step("exact_dedup", withKeep
      .filter(col("doc_id") === col("__keep"))
      .drop("__fp", "__keep"))

    // 3. near-dup within batch: estimator pairs -> clusters -> keep min
    val rawPairs = TextOps.minhashDedupPairsFromSigs(
      exact.select("doc_id", "sig"),
      cfg.numHashes, cfg.bandSize, cfg.threshold)
    val pairs = if (pinPairs) rawPairs.localCheckpoint(true) else rawPairs
    val drop = Components.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__drop_id"))
    val survivors = step("batch_dedup",
      exact.join(drop, exact("doc_id") === col("__drop_id"), "left_anti"))
    (survivors, exactPairs.unionByName(pairs.select("id_a", "id_b")))
  }

  def ingest(
      batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, cfg: Config = Config()): Result = {
    val audit = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val (batchDeduped, _) = batchPipeline(batch, idCol, textCol, cfg, audit)

    // 4. cross dedup against the standing index (no corpus text)
    val sigs = batchDeduped.select("doc_id", "sig")
    val matched = crossPairs(sigs, index, cfg)
      .select(col("new_id").as("__dup_id")).distinct()
    val accepted = step(audit, "cross_dedup",
      batchDeduped.join(matched,
        batchDeduped("doc_id") === col("__dup_id"), "left_anti"))

    // 5. index append: survivors' signatures only
    val updated = index.unionByName(
      accepted.select("doc_id", "sig"))
    Result(withPayload(batch, idCol, textCol, accepted.drop("sig")),
      updated, audit.toSeq)
  }

  /** Re-attach the batch's PAYLOAD columns (everything besides
    * `idCol`/`textCol` — capture times, urls, source metadata) to the
    * accepted survivors: a training-data corpus slice is more than
    * (id, text), and retention rules like [[eventTimeFeed]] read the
    * payload (capture time) from the slices. One batch-sized equi-join,
    * skipped when the batch carries no payload; ids are assumed unique
    * per batch (the pipeline's standing assumption — dedup is by content
    * fingerprint, not id). Payload columns whose names collide with the
    * accepted frame's own (a stray `doc_id`/`text` when idCol/textCol
    * are named differently) are dropped rather than producing an
    * ambiguous-reference failure — the survivor frame's names are the
    * slice schema contract.
    */
  private def withPayload(
      batch: DataFrame, idCol: String, textCol: String,
      accepted: DataFrame): DataFrame = {
    val taken = accepted.columns.toSet
    val payload = batch.columns.filterNot(c =>
      c == idCol || c == textCol || taken.contains(c))
    if (payload.isEmpty) accepted
    else accepted.join(
      batch.select(col(idCol).as("doc_id") +: payload.map(col): _*),
      Seq("doc_id"))
  }

  /** [[ingest]] against a durable [[SignatureIndexStore]] instead of an
    * in-memory index frame: cross-dedup reads only bucket-pruned,
    * pre-exploded band/sig files of committed batches `< batchId`, and
    * the append writes ONLY the survivors (batch-sized, never
    * index-sized). This is the standing-corpus production path — per
    * batch, nothing index-sized is rewritten, shuffled, or re-exploded.
    */
  def ingestIndexed(
      batch: DataFrame, idCol: String, textCol: String,
      indexRoot: String, batchId: Long, cfg: Config = Config(),
      ann: Option[AnnGate] = None,
      /** Optional durable cluster-lineage: fold EVERY duplicate relation
        * this batch judged — within-batch exact + near-dup pairs, the
        * cross-dedup pairs against the standing corpus, and (when the
        * AnnGate runs) the semantic standing + within-batch pairs — into
        * a [[LabelStore]] at this root, so "which cluster did every
        * dropped doc join" stays queryable over the loop's whole life
        * ([[LabelStore.lookup]]/[[LabelStore.members]]) without
        * re-clustering. The fold is batch-bounded (touched clusters
        * only) and rides the same batchId fence/idempotence as the
        * index appends. Pair frames are lazy: without a labelsRoot none
        * of them is ever computed.
        */
      labelsRoot: Option[String] = None,
      /** Ids retired ATOMICALLY with this batch across every store the
        * call touches (tombstones ride each store's batch commit, the
        * same batchId fence/idempotence) — the streaming-loop deletion
        * path, where a separate retirement batch would collide with the
        * next micro-batch's appends. Retired docs are also excluded from
        * this batch's cross-dedup judgments: a new doc must not be
        * dropped as a duplicate of content being deleted.
        */
      retireIds: Option[DataFrame] = None,
      retireIdCol: String = "id"): (DataFrame, Seq[(String, Long)]) = {
    val spark = batch.sparkSession
    val audit = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val retired = retireIds.map(_
      .select(col(retireIdCol).cast("long").as("id")).distinct()
      .localCheckpoint(true))
    val (batchDeduped, batchPairs) =
      batchPipeline(batch, idCol, textCol, cfg, audit,
        pinPairs = labelsRoot.isDefined)

    val rawMatches = SignatureIndexStore
      .matches(spark, indexRoot, batchDeduped.select("doc_id", "sig"),
        cfg.threshold, belowBatch = batchId)
    // this batch's own tombstones are fenced out of its reads (they kill
    // rows < batchId but land AT batchId), so drop judgments against
    // retiring docs explicitly
    val matchPairs = retired.fold(rawMatches)(r => rawMatches
      .join(broadcast(r.select(col("id").as("__rid"))),
        col("corpus_id") === col("__rid"), "left_anti"))
    // pin once when the pair frame feeds BOTH the drop set and the
    // lineage fold; a single consumer keeps the lazy frame
    val pinnedPairs =
      if (labelsRoot.isDefined) matchPairs.localCheckpoint(true)
      else matchPairs
    val matched = pinnedPairs
      .select(col("new_id").as("__dup_id")).distinct()
    val accepted = step(audit, "cross_dedup", batchDeduped
      .join(matched, batchDeduped("doc_id") === col("__dup_id"), "left_anti"))

    // optional semantic stage BEFORE the index appends: a semantically
    // dropped doc must appear in neither standing index (accepted ⊆
    // indexed, and it was not accepted)
    val (finalAccepted, semPairs) = ann match {
      case Some(g) =>
        annStage(accepted, g, batchId, audit, pin = labelsRoot.isDefined,
          retired = retired)
      case None    => (accepted, None)
    }

    SignatureIndexStore.append(spark, indexRoot,
      finalAccepted.select("doc_id", "sig"), batchId,
      SignatureIndexStore.Meta(indexBuckets(cfg), cfg.numHashes, cfg.bandSize),
      retireIds = retired)

    labelsRoot.foreach { lr =>
      val crossAsPairs = pinnedPairs
        .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
      val allPairs = (Seq(batchPairs, crossAsPairs) ++ semPairs.toSeq)
        .reduce(_ unionByName _)
      LabelStore.applyBatch(spark, lr, allPairs, "id_a", "id_b", retired,
        batchId, LabelStore.Meta(indexBuckets(cfg)))
    }
    (withPayload(batch, idCol, textCol, finalAccepted.drop("sig")),
      audit.toSeq)
  }

  /** The [[AnnGate]] stage: embed the signature-accepted docs, drop those
    * whose nearest STANDING vector clears the cosine threshold (semantic
    * cross-dedup — the SemDeDup judgment against the whole corpus so
    * far), then a WITHIN-batch semantic pass (mutual paraphrases arriving
    * in the same micro-batch match nothing standing — cluster them with
    * [[Similarity.cosineDedupPairs]] and keep each cluster's minimum id,
    * mirroring the textual `batch_dedup` stage), then append survivors'
    * vectors so the next batch sees them.
    * Retry-fenced like the signature path: the query's `belowBatch`
    * excludes this batch's own crashed append, and the store is created
    * with `firstBatchId = batchId` for the same reason.
    */
  private def annStage(
      accepted: DataFrame, g: AnnGate, batchId: Long,
      audit: scala.collection.mutable.ArrayBuffer[(String, Long)],
      pin: Boolean = false,
      retired: Option[DataFrame] = None)
      : (DataFrame, Option[DataFrame]) = {
    val spark = accepted.sparkSession
    val emb = TextOps.hashedEmbedding(accepted, "doc_id", "text", g.dim)
      .localCheckpoint(true)
    val standing = AnnIndexStore.readMeta(spark, g.root).isDefined
    // lazy semantic-dup pair frames for the lineage fold (never computed
    // without a labelsRoot consumer)
    var standingPairs: Option[DataFrame] = None
    val keptStanding =
      if (!standing) {
        // no standing vectors yet: nothing to gate against — carry the
        // audit row (same count as cross_dedup) without an extra job
        audit += (("semantic_dedup", audit.last._2))
        accepted
      } else {
        // pin when the lineage fold is a second consumer: the standing
        // ANN probe then runs once, not once for the drop set and again
        // inside LabelStore.fold's pinning job
        val allHits = AnnIndexStore.query(spark, g.root, emb,
            "doc_id", "embedding", k = 1, nprobe = g.nprobe,
            belowBatch = batchId)
          .filter(col("cos") >= g.threshold)
        // a new doc must not be judged a semantic dup of content being
        // retired in this same batch (own-batch tombstones are fenced
        // out of the read)
        val rawHits = retired.fold(allHits)(r => allHits
          .join(broadcast(r.select(col("id").as("__rid"))),
            col("neighbor_id") === col("__rid"), "left_anti"))
        val hits = if (pin) rawHits.localCheckpoint(true) else rawHits
        standingPairs = Some(hits.select(
          col("query_id").as("id_a"), col("neighbor_id").as("id_b")))
        val dups = hits.select(col("query_id").as("__sem_dup")).distinct()
        step(audit, "semantic_dedup", accepted
          .join(dups, accepted("doc_id") === col("__sem_dup"), "left_anti"))
      }
    // within-batch semantic pass: two mutual paraphrases in ONE batch
    // clear the standing gate together (neither is indexed yet) — without
    // this pass both would be appended, permanently seeding the store
    // with a semantic duplicate pair. Same set semantics as the textual
    // batch_dedup stage: candidate pairs, clusters, keep the minimum id.
    val survivorEmb = emb
      .join(keptStanding.select("doc_id"), Seq("doc_id"), "left_semi")
    val rawBatchPairs = Similarity.cosineDedupPairs(
      survivorEmb, "doc_id", "embedding", g.dim, g.numPlanes, g.threshold)
    // same dual-consumer discipline: the within-batch cosine self-join
    // feeds the drop set AND the lineage union
    val batchPairs =
      if (pin) rawBatchPairs.localCheckpoint(true) else rawBatchPairs
    val batchDrop = Components.connectedComponents(batchPairs, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__sem_batch_drop"))
    val kept = step(audit, "semantic_batch_dedup", keptStanding
      .join(batchDrop,
        keptStanding("doc_id") === col("__sem_batch_drop"), "left_anti"))
    val obs = new org.apache.spark.sql.Observation()
    val keptEmb = emb
      .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val nKept = obs.get.getOrElse("n", null) match {
      case x: java.lang.Long => x.longValue()
      case _                 => 0L
    }
    if (!standing) {
      if (nKept > 0)
        AnnIndexStore.build(spark, g.root, keptEmb, "doc_id", "embedding",
          g.dim, numCentroids = math.min(g.numCentroids.toLong, nKept).toInt,
          lloydRounds = 2, firstBatchId = batchId)
    } else
      AnnIndexStore.append(spark, g.root, keptEmb, "doc_id", "embedding",
        batchId, retireIds = retired)
    val semPairs = standingPairs match {
      case Some(sp) => sp.unionByName(batchPairs.select("id_a", "id_b"))
      case None     => batchPairs.select("id_a", "id_b")
    }
    (kept, Some(semPairs))
  }

  /** Bucket count for the durable store — a persistent store property
    * (pinned in its _META); exposed so callers building the store
    * out-of-band (bulk seed, then trickle ingest) agree with the loop.
    */
  def indexBuckets(cfg: Config): Int = cfg.indexBuckets

  /** Bulk-seed the durable store from an EXISTING corpus: signatures
    * computed once, within-corpus near-dup clusters collapsed to their
    * minimum id, survivors appended as batch `batchId`. The dedup pass
    * is NOT optional — it establishes the store's dedup-sparse invariant
    * (see [[SignatureIndexStore.matches]]'s fan-out note: an index
    * seeded with duplicate clusters hands every later batch a hot-band
    * candidate explosion). Returns the indexed doc count.
    */
  def seedIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      indexRoot: String, cfg: Config = Config(),
      batchId: Long = 0L): Long = {
    val spark = corpus.sparkSession
    val sigs = signatureIndex(corpus, idCol, textCol, cfg)
      .localCheckpoint(true)
    val pairs = TextOps.minhashDedupPairsFromSigs(
      sigs, cfg.numHashes, cfg.bandSize, cfg.threshold)
    val drop = Components.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__drop_id"))
    val kept = sigs
      .join(drop, sigs("doc_id") === col("__drop_id"), "left_anti")
      .localCheckpoint(true)
    SignatureIndexStore.append(spark, indexRoot, kept, batchId,
      SignatureIndexStore.Meta(cfg.indexBuckets, cfg.numHashes, cfg.bandSize))
    kept.count()
  }

  /** An empty signature index with the right schema — the seed for a
    * corpus built from nothing by the ingest loop.
    */
  def emptyIndex(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("sig", ArrayType(LongType)))))
  }

  /** The ingest loop under Structured Streaming: each micro-batch runs
    * [[ingest]] against the latest durable index version, appends
    * survivors under `acceptedDir/batch=<id>` and writes the updated
    * index as `indexDir/v=<id>` — versioned, so a retried batch
    * overwrites its own outputs instead of compounding them (the
    * LiveCrawl durability discipline), and the newest `v=` below the
    * current batch id is always a consistent snapshot to resume from.
    * Hadoop FS API throughout, so indexDir/acceptedDir live on any
    * Hadoop-compatible filesystem (object storage included).
    *
    * Scale note: the index rewrite per batch is index-sized; at standing-
    * corpus scale the production layout partitions the index by a stable
    * hash of doc_id (or a band-key bucket) so the append touches only new
    * files — [[graft.crawl.FrontierStore]] is the worked example of that
    * merge-on-read layout, carried here as the documented scale path.
    */
  def streaming(
      batches: DataFrame, idCol: String, textCol: String,
      indexDir: String, acceptedDir: String,
      cfg: Config = Config()): org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val spark = b.sparkSession
        val hPath = new org.apache.hadoop.fs.Path(indexDir)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val versions =
          if (!fs.exists(hPath)) Array.empty[Long]
          else fs.listStatus(hPath).map(_.getPath.getName)
            .filter(_.startsWith("v="))
            .map(_.stripPrefix("v=").toLong)
            .filter(_ < batchId)
        val index =
          if (versions.isEmpty) emptyIndex(spark)
          else spark.read.parquet(s"$indexDir/v=${versions.max}")
        val r = ingest(b, idCol, textCol, index, cfg)
        r.accepted.write.mode("overwrite")
          .parquet(s"$acceptedDir/batch=$batchId")
        r.updatedIndex.write.mode("overwrite")
          .parquet(s"$indexDir/v=$batchId")
      }
      .start()

  /** The ingest loop against the durable bucketed store — the production
    * layout [[streaming]]'s scale note promises. Each micro-batch runs
    * [[ingestIndexed]]: cross-dedup against committed batches
    * `< batchId` (bucket-pruned reads, batch-side broadcasts), survivors
    * appended under `indexRoot` (batch-sized write) and written to
    * `acceptedDir/batch=<id>`. A retried batch overwrites both of its
    * directories and re-marks, so replays are idempotent; its own
    * half-committed append is invisible to its cross-dedup (the
    * `belowBatch` fence). Accepted-set equality with [[streaming]] is
    * spec-pinned (CorpusIngestSpec).
    */
  def streamingIndexed(
      batches: DataFrame, idCol: String, textCol: String,
      indexRoot: String, acceptedDir: String,
      cfg: Config = Config(),
      /** Fold the store's batch dirs into one file per bucket every this
        * many batches ([[SignatureIndexStore.compact]]) — the loop IS
        * the store's single writer, and foreachBatch runs serially, so
        * between-batch compaction is safe by construction. 0 = never.
        * A compaction pass rewrites the whole index (index-sized, unlike
        * the batch-sized appends), so pick an interval that amortizes it
        * — e.g. every few hundred batches, when per-batch file count
        * starts to matter — not every batch (the spec's `1` is for
        * coverage, not a recommendation).
        */
      compactEvery: Int = 0,
      /** AUTO-compaction: when `compactEvery` is unset (0), fold the
        * stores once the signature store's UNCOMPACTED committed-batch
        * count reaches this threshold — a policy on observable store
        * state (one driver-side listing per batch), not an operator
        * cadence, so a loop whose owner never tunes the knob still gets
        * flat per-batch walls (PERF_NOTES "Round 14": +28% batch wall
        * over 40 batches with compaction off). The check runs
        * between batches like the manual cadence, so the single-writer
        * safety argument is unchanged; a kill mid-pass leaves an
        * unflipped `c<gen>` dir that the next triggered pass overwrites
        * ([[SignatureIndexStore.compact]]'s pointer-flip protocol).
        * 0 disables (pre-round-15 behavior); `compactEvery > 0` takes
        * precedence (an explicit cadence is a tuned choice).
        */
      autoCompactBatches: Int = 32,
      /** Optional semantic stage: embed accepted docs, cross-dedup
        * against the standing [[AnnIndexStore]], append survivors'
        * vectors — the ANN index rides the same loop (and the same
        * `compactEvery` cadence) as the signature store.
        */
      ann: Option[AnnGate] = None,
      /** Optional durable cluster lineage ([[ingestIndexed]]'s
        * `labelsRoot`); compacts on the same `compactEvery` cadence.
        */
      labelsRoot: Option[String] = None,
      /** Per-batch retirement feed — the always-on deletion path: called
        * with each micro-batch's id, and any returned ids (one long
        * `id` column) are retired ATOMICALLY with that batch's commits
        * across the signature/ANN/label stores (plus the accepted-dir
        * slices, rewritten below). Drain a takedown queue here; the
        * feed is re-invoked on a batch REPLAY, so it must be
        * deterministic per batch id (read a journal keyed by id, don't
        * pop a volatile queue). Scale note: store retirements are
        * delete-set-bounded, but finding which accepted SLICES hold the
        * ids is a column-pruned scan of the slice dirs (plain parquet
        * has no id index, and the store's batch column stops mapping to
        * slices once compaction folds it) — batch delete sets up and
        * retire them in one feed firing rather than one id at a time.
        */
      retireFeed: Long => Option[DataFrame] = _ => None,
      /** Columns (integral/timestamp) to record a per-slice `_SKIP`
        * file-stats sidecar for on every slice accept AND rewrite
        * ([[DataSkipping.writeStats]], footer-derived, metadata-only) —
        * so time-banded corpus scans prune at the file level the same
        * way [[graft.crawl.FrontierStore.readBanded]] does. Empty =
        * no sidecars (the pre-adoption layout).
        */
      sliceStatsCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val retire = retireFeed(batchId)
        val (accepted, _) =
          ingestIndexed(b, idCol, textCol, indexRoot, batchId, cfg, ann,
            labelsRoot, retireIds = retire)
        accepted.write.mode("overwrite")
          .parquet(s"$acceptedDir/batch=$batchId")
        if (sliceStatsCols.nonEmpty)
          DataSkipping.writeStats(b.sparkSession,
            s"$acceptedDir/batch=$batchId", sliceStatsCols)
        // the accepted-dir slices are plain parquet, not a tombstone
        // store: physically drop retired ids from earlier slices via the
        // SliceRewrite protocol — write survivors as a new sv= version,
        // flip the slice pointer, THEN delete superseded data. An
        // in-place overwrite here (round 12) deleted the target before
        // the write job ran: a crash in that window silently lost the
        // slice's non-retired rows, and a replayed batch could not
        // detect it (the partial dir no longer matched the retire ids).
        // Only dirs still holding retired ids are rewritten; resume-safe
        // because a replayed batch re-filters already-clean dirs to a
        // no-op, and gcStale heals crash leftovers including superseded
        // versions whose delete crashed
        retire.foreach { ids =>
          val r = ids.select(col("id").cast("long").as("id")).distinct()
            .localCheckpoint(true)
          val spark = b.sparkSession
          graft.util.SliceRewrite.gcStale(spark, acceptedDir, "batch")
          // slice-hinted rewrite: a feed that knows WHICH slices hold
          // its ids (rollingWindowFeed/eventTimeFeed journal a
          // `srcBatch` column) bounds this pass to the expiring band —
          // without the hint, finding affected slices is a column-pruned
          // scan of EVERY prior slice, a per-batch cost that grows with
          // stream age (+30% batch wall over 40 batches, PERF_NOTES
          // "Round 14"). Arbitrary takedown feeds without the
          // column keep the full scan.
          val hinted =
            if (!ids.columns.contains("srcBatch")) None
            else Some(ids.select(col("srcBatch").cast("long")).distinct()
              .collect().map(_.getLong(0)).toSet)
          val names = graft.util.SliceRewrite
            .sliceNames(spark, acceptedDir, "batch")
            .filter(_.stripPrefix("batch=").toLong < batchId)
            .filter(n => hinted.forall(
              _.contains(n.stripPrefix("batch=").toLong)))
          graft.util.SliceRewrite.read(spark, acceptedDir, "batch", names)
            .foreach { all =>
              val hit = all
                .join(broadcast(r), all(idCol) === r("id"), "left_semi")
                .select(col("batch").cast("long")).distinct()
                .collect().map(_.getLong(0))
              val f = new org.apache.hadoop.fs.Path(acceptedDir)
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
              hit.foreach { w =>
                val name = s"batch=$w"
                val survivors = spark.read
                  .parquet(graft.util.SliceRewrite
                    .liveReadPath(f, s"$acceptedDir/$name"))
                  .join(broadcast(r), col(idCol) === r("id"), "left_anti")
                graft.util.SliceRewrite
                  .replaceSlice(spark, acceptedDir, name, survivors)
                // sidecar-refresh-on-rewrite: the superseded version's
                // sidecar died with its dir (deleteStale); the new live
                // sv= dir gets a fresh one — never a stale sidecar over
                // rewritten files
                if (sliceStatsCols.nonEmpty)
                  DataSkipping.writeStats(spark, graft.util.SliceRewrite
                    .liveLeaf(f, s"$acceptedDir/$name"), sliceStatsCols)
              }
            }
        }
        val doCompact =
          if (compactEvery > 0) batchId > 0 && batchId % compactEvery == 0
          else autoCompactBatches > 0 && {
            val covered = SignatureIndexStore
              .compactState(b.sparkSession, indexRoot)
              .map(_._2).getOrElse(-1L)
            graft.util.StoreProtocol
              .committedBatches(b.sparkSession, indexRoot)
              .count(_ > covered) >= autoCompactBatches
          }
        if (doCompact) {
          // auto-compaction is ON BY DEFAULT (autoCompactBatches=32) —
          // loops that previously relied on compactEvery=0 meaning
          // "never" now get periodic driver-side passes; announce each
          // one so operators can attribute the pause (and spot a
          // collision with any external compactor of the same store)
          if (compactEvery <= 0)
            org.slf4j.LoggerFactory.getLogger("graft.operators.CorpusIngest")
              .info(s"auto-compact firing at batch $batchId for $indexRoot " +
                s"(uncompacted committed batches >= $autoCompactBatches; " +
                "set autoCompactBatches=0 to disable)")
          SignatureIndexStore.compact(b.sparkSession, indexRoot)
          ann.filter(g =>
              AnnIndexStore.readMeta(b.sparkSession, g.root).isDefined)
            .foreach(g => AnnIndexStore.compact(b.sparkSession, g.root))
          labelsRoot.filter(lr =>
              LabelStore.readMeta(b.sparkSession, lr).isDefined)
            .foreach(lr => LabelStore.compact(b.sparkSession, lr))
        }
      }
      .start()

  /** The accepted corpus across all slices, WITH the `batch` partition
    * column — the layout-aware read: slices a retirement rewrote serve
    * from their live `sv=` version ([[graft.util.SliceRewrite]]), the
    * rest read plain. Use this instead of a whole-root parquet read once
    * any retire feed may have run (a mixed plain/versioned root refuses
    * a naive partition-discovery read — by design, loudly).
    */
  def accepted(
      spark: SparkSession, acceptedDir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.util.SliceRewrite.readAll(spark, acceptedDir, "batch")
      .getOrElse {
        // fresh corpus (no slices yet): a schema-complete empty frame —
        // the columns every ingest writes (`idCol`, `textCol`, the
        // `batch` partition) — so callers selecting them get an empty
        // typed result, not an AnalysisException off a zero-column
        // frame (CrawlCorpusLoop.corpus makes the same guarantee).
        // Extra payload columns of a specific pipeline appear only once
        // a slice exists, as before.
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField(idCol, LongType),
            StructField(textCol, StringType),
            StructField("batch", LongType))))
      }

  /** [[accepted]] restricted to the conjunction of `ranges` (inclusive,
    * long form) — the time-banded corpus scan: with `sliceStatsCols`
    * sidecars recorded by the loop, only the slice FILES whose recorded
    * range intersects are opened ([[DataSkipping.prunedReadDirs]];
    * sidecar-less slices read unpruned). Returns rows identical to
    * `accepted(...).filter(band)` minus the `batch` partition column
    * (the banded read lists live leaf files explicitly, which is also
    * what lets plain and rewritten slices share ONE scan).
    */
  def acceptedBanded(
      spark: SparkSession, acceptedDir: String,
      ranges: Seq[DataSkipping.ColRange])
      : Option[(DataFrame, DataSkipping.PruneInfo)] = {
    val f = graft.util.StoreProtocol.fs(spark, acceptedDir)
    val names = graft.util.SliceRewrite.sliceNames(spark, acceptedDir, "batch")
    if (names.isEmpty) None
    else Some(DataSkipping.prunedReadDirs(spark,
      names.map(n => graft.util.SliceRewrite
        .liveReadPath(f, s"$acceptedDir/$n")), ranges))
  }

  /** Rolling-window retention for the always-on loop — the streaming
    * counterpart of [[graft.crawl.RetentionPolicy]]'s age rule, keyed on
    * batch distance (the stream's own monotone clock): a `retireFeed`
    * for [[streamingIndexed]] that, at micro-batch `b`, retires every
    * doc living in an accepted slice older than `keepBatches` behind
    * it. The corpus becomes a sliding window: tombstones ride batch
    * `b`'s own store commits, the expired slices rewrite to empty via
    * the SliceRewrite protocol, and the next compaction makes the
    * index-side deletes physical. Re-accepted content re-enters under a
    * NEWER batch, which the tombstone recency rule keeps live.
    *
    * The feed JOURNALS the derived set per batch id
    * (`acceptedDir/_retire/batch=<b>`, hidden from corpus reads):
    * `retireFeed` must be deterministic per id across replays, but this
    * feed's source — the expired slices — is mutated by the very batch
    * that consumes it. A replay that re-derived from the rewritten
    * slices would return a smaller or empty set: empty flips the batch
    * from a combined data+retire commit to a pure-data append, which
    * the store REFUSES over a tombset-bearing marker (a permanently
    * wedged stream); smaller would overwrite the committed tombstone
    * set and silently resurrect index rows. First firing derives and
    * persists; replays read the journal verbatim. Journals of
    * already-committed earlier batches are reclaimed on the next
    * derivation.
    *
    * An `_EXPIRED_UPTO` watermark bounds the derivation to the NEWLY
    * expiring slice band (steady state: exactly one slice per batch) —
    * without it, every firing would re-list and re-read the entire
    * ever-growing set of long-emptied slices. A crash between the
    * journal write and the watermark flip re-derives an overlapping
    * band next batch; re-retiring already-dead ids is harmless.
    */
  def rollingWindowFeed(
      spark: SparkSession, acceptedDir: String, idCol: String,
      keepBatches: Int): Long => Option[DataFrame] = { batchId =>
    import graft.util.{FsAtomic, SliceRewrite, StoreProtocol}
    import org.apache.hadoop.fs.Path
    val f = StoreProtocol.fs(spark, acceptedDir)
    val retireRoot = s"$acceptedDir/_retire"
    val jdir = s"$retireRoot/batch=$batchId"
    val journaled =
      if (f.exists(new Path(jdir, "_SUCCESS")))
        Some(spark.read.parquet(jdir)) // replay: the pinned set, verbatim
      else {
        val hi = batchId - keepBatches // slices < hi are out of window
        val lo = StoreProtocol
          .readSmall(f, new Path(retireRoot, "_EXPIRED_UPTO"))
          .map(_.trim.toLong + 1L).getOrElse(Long.MinValue)
        val band = SliceRewrite.sliceNames(spark, acceptedDir, "batch")
          .filter { n =>
            val b = n.stripPrefix("batch=").toLong; b >= lo && b < hi
          }
        if (band.isEmpty) None
        else {
          // journal (id, srcBatch): the ids to retire plus WHICH slices
          // they came from — the rewrite hint streamingIndexed uses to
          // bound its pass to the expiring band
          SliceRewrite.read(spark, acceptedDir, "batch", band).get
            .select(col(idCol).cast("long").as("id"),
              col("batch").cast("long").as("srcBatch"))
            .distinct()
            .write.mode("overwrite").parquet(jdir)
          FsAtomic.writePointer(f, new Path(retireRoot), "_EXPIRED_UPTO",
            (hi - 1L).toString)
          // journals of earlier batches are replay-dead (foreachBatch
          // runs b only after b-1 committed) — reclaim them
          f.listStatus(new Path(retireRoot)).map(_.getPath).foreach { p =>
            val n = p.getName
            if (n.startsWith("batch=") &&
                n.stripPrefix("batch=").toLong < batchId)
              f.delete(p, true)
          }
          Some(spark.read.parquet(jdir))
        }
      }
    // a journaled-empty set (expired slices held zero docs) stays None
    // on first firing AND replay — the batch commits as pure data
    journaled.filter(_.head(1).nonEmpty)
  }

  /** EVENT-TIME retention for the always-on loop — the sibling of
    * [[rollingWindowFeed]] keyed on the data's own capture times instead
    * of batch distance: a `retireFeed` for [[streamingIndexed]] that, at
    * micro-batch `b`, retires every doc living in an accepted slice
    * whose NEWEST `timeCol` value is older than `ttlMs` behind the
    * stream's event clock. A pipeline with irregular micro-batch cadence
    * gets a real "older than T" rule — a quiet hour expires its backlog
    * in one firing, a burst of tiny batches expires nothing early.
    *
    * Clock: the newest recorded slice time across slices `< b` — the
    * stream's own event-time watermark, never the wall clock (replays
    * must re-derive identically). The batch's OWN slice is excluded by
    * construction: it is written AFTER this feed runs, so a crashed
    * attempt's leftover slice must not advance the clock between
    * attempts (a replay would then derive a set the already-committed
    * pure-data store marker refuses — the wedge the journal contract
    * exists to prevent).
    *
    * Per-slice time sidecars (`acceptedDir/_times/t_batch=<k>`, pointer
    * files) are recorded the first time a slice is seen — its max
    * `timeCol`, derived from the slice's parquet FOOTERS
    * ([[DataSkipping.footerMax]], metadata-only; column-pruned scan
    * fallback when stats are unusable) — so steady-state cost is one
    * sidecar write for the previous batch's slice plus one listing;
    * unexpired slices' DATA is never re-read. Expired slices get an
    * `expired_batch=<k>` marker (written after the journal commit, and
    * healed on the replay branch from the journal's `srcBatch` column)
    * so they leave the candidate set permanently; their sidecars stay —
    * they ARE the clock history.
    *
    * Journal/replay contract: identical to [[rollingWindowFeed]] (same
    * `_retire/batch=<b>` layout — one retire feed per loop): first
    * firing derives + persists, replays read verbatim, derived-empty
    * journals nothing and stays None.
    */
  def eventTimeFeed(
      spark: SparkSession, acceptedDir: String, idCol: String,
      timeCol: String, ttlMs: Long): Long => Option[DataFrame] = { batchId =>
    import graft.util.{FsAtomic, SliceRewrite, StoreProtocol}
    import org.apache.hadoop.fs.Path
    val f = StoreProtocol.fs(spark, acceptedDir)
    val retireRoot = s"$acceptedDir/_retire"
    val timesRoot = new Path(s"$acceptedDir/_times")
    val jdir = s"$retireRoot/batch=$batchId"

    def markExpired(bs: Iterable[Long]): Unit = bs.foreach { k =>
      if (!f.exists(new Path(timesRoot, s"expired_batch=$k")))
        FsAtomic.writePointer(f, timesRoot, s"expired_batch=$k", "expired")
    }

    val out =
      if (f.exists(new Path(jdir, "_SUCCESS"))) {
        val j = spark.read.parquet(jdir)
        // heal markers a crash-after-journal skipped (idempotent)
        markExpired(j.select("srcBatch").distinct()
          .collect().map(_.getLong(0)))
        Some(j) // (id, srcBatch) — srcBatch is the rewrite's slice hint
      } else {
        f.mkdirs(timesRoot)
        // bounded metadata: without GC, `_times/` grows two pointer
        // files per slice FOREVER (10^6 batches = 2M files in one
        // directory — an object-store listing hazard). Two pointers
        // bound it: `_CLOCK` is the running max of every sidecar time
        // ever recorded (monotone, so expired slices' sidecars can be
        // deleted without losing the clock), and `_EXPIRED_PREFIX` is
        // the contiguous expired prefix [0..p] (per-slice markers and
        // sidecars at or below it are reclaimed; out-of-order expiry
        // beyond it keeps its per-slice marker until the prefix catches
        // up). Steady-state listing = window size + exceptions.
        val prefix = StoreProtocol
          .readSmall(f, new Path(timesRoot, "_EXPIRED_PREFIX"))
          .map(_.trim.toLong).getOrElse(-1L)
        val listed = Option(f.listStatus(timesRoot)).getOrElse(Array.empty)
          .map(_.getPath.getName)
        // leftover sweep: a crash between the prefix flip and its file
        // deletes leaves covered pointers behind — reclaim on sight
        listed.foreach { n =>
          val covered =
            (n.startsWith("t_batch=") &&
              n.stripPrefix("t_batch=").toLong <= prefix) ||
            (n.startsWith("expired_batch=") &&
              n.stripPrefix("expired_batch=").toLong <= prefix)
          if (covered) f.delete(new Path(timesRoot, n), true)
        }
        var haveTimes = listed.filter(_.startsWith("t_batch="))
          .map(_.stripPrefix("t_batch=").toLong).filter(_ > prefix).toSet
        // keys AT or below the prefix are never queried (live, the
        // recording loop, the band, and the prefix-advance all operate
        // strictly above it), so the set stays window-sized — a
        // materialized (0..prefix) union would grow with stream age
        var expired = listed.filter(_.startsWith("expired_batch="))
          .map(_.stripPrefix("expired_batch=").toLong).filter(_ > prefix)
          .toSet
        val liveAll = SliceRewrite.sliceNames(spark, acceptedDir, "batch")
          .map(_.stripPrefix("batch=").toLong).filter(_ < batchId)
        val live = liveAll.filter(_ > prefix)
        // record missing sidecars (new slices since the last firing);
        // fold each into the monotone clock pointer, and expire
        // zero-row slices immediately (nothing to retire, and an
        // inexpirable empty slice would stall the prefix forever)
        def timeOfName(n: String): Option[Long] =
          StoreProtocol.readSmall(f, new Path(timesRoot, n))
            .map(_.trim).filter(_ != "empty").map(_.toLong)
        var clockV = StoreProtocol
          .readSmall(f, new Path(timesRoot, "_CLOCK"))
          .map(_.trim.toLong)
        // one read per surviving sidecar per firing: this map serves the
        // crash-heal AND the band computation below (the recording loop
        // adds its own entries as it writes)
        val times = scala.collection.mutable.Map.empty[Long, Option[Long]]
        haveTimes.foreach(k => times(k) = timeOfName(s"t_batch=$k"))
        // crash-heal the clock: the sidecar and _CLOCK are two writes —
        // a kill between them leaves a recorded slice the clock never
        // absorbed, and the recording loop below skips already-recorded
        // slices. Fold every SURVIVING sidecar back in (window-bounded:
        // prefix GC reclaims covered ones, and an expired slice's time
        // is ≤ the clock that expired it by construction).
        val healed = times.values.flatten ++ clockV
        if (healed.nonEmpty && clockV.forall(_ < healed.max)) {
          clockV = Some(healed.max)
          FsAtomic.writePointer(f, timesRoot, "_CLOCK", healed.max.toString)
        }
        live.filterNot(haveTimes).filterNot(expired).sorted.foreach { k =>
          val slicePath = SliceRewrite.liveReadPath(
            f, s"$acceptedDir/batch=$k")
          // footer-stats fast path: for integral time columns the slice's
          // max is exact in the parquet footers — metadata-only, no
          // column scan of a possibly-TB slice. Undeterminable (absent
          // stats) falls back to the scan; either path yields the
          // identical value, so replays mix them freely.
          val mx: Option[Long] = DataSkipping
            .footerMax(spark, slicePath, timeCol)
            .getOrElse {
              val d = spark.read.parquet(slicePath)
              // integral time columns only: a TimestampType here would
              // cast to epoch SECONDS while ttlMs and the sidecars are
              // in the column's own (ms) unit — refuse loudly instead
              // of silently stretching the TTL 1000×
              d.schema(timeCol).dataType match {
                case org.apache.spark.sql.types.LongType |
                     org.apache.spark.sql.types.IntegerType => ()
                case other => throw new IllegalArgumentException(
                  s"eventTimeFeed timeCol $timeCol: unsupported type " +
                    s"$other — pass an integral epoch column (e.g. " +
                    "unix_millis(ts)) whose unit matches ttlMs")
              }
              val row = d.agg(max(col(timeCol).cast("long"))).head()
              if (row.isNullAt(0)) None else Some(row.getLong(0))
            }
          if (mx.isEmpty) {
            FsAtomic.writePointer(f, timesRoot, s"t_batch=$k", "empty")
            markExpired(Seq(k))
            expired += k
          } else {
            val t = mx.get
            FsAtomic.writePointer(f, timesRoot, s"t_batch=$k", t.toString)
            if (clockV.forall(_ < t)) {
              clockV = Some(t)
              FsAtomic.writePointer(f, timesRoot, "_CLOCK", t.toString)
            }
          }
          times(k) = mx
          haveTimes += k
        }
        def timeOf(k: Long): Option[Long] =
          times.getOrElse(k, timeOfName(s"t_batch=$k"))
        val band = clockV.toSeq.flatMap { now =>
          live.filterNot(expired)
            .filter(k => timeOf(k).exists(_ <= now - ttlMs)).sorted
        }
        val fired =
          if (band.isEmpty) None
          else {
            SliceRewrite.read(spark, acceptedDir, "batch",
                band.map(k => s"batch=$k")).get
              .select(col(idCol).cast("long").as("id"),
                col("batch").cast("long").as("srcBatch"))
              .distinct()
              .write.mode("overwrite").parquet(jdir)
            markExpired(band)
            expired ++= band
            // journals of earlier (committed) batches are replay-dead
            f.listStatus(new Path(retireRoot)).map(_.getPath).foreach { p =>
              val n = p.getName
              if (n.startsWith("batch=") &&
                  n.stripPrefix("batch=").toLong < batchId)
                f.delete(p, true)
            }
            Some(spark.read.parquet(jdir)) // (id, srcBatch)
          }
        // advance the expired prefix over expired slices AND ids with no
        // slice dir (takedown-style slot gaps must not stall it), then
        // reclaim the covered per-slice pointers
        val liveSet = liveAll.toSet
        var p = prefix
        while (p + 1 < batchId &&
            (expired.contains(p + 1) || !liveSet.contains(p + 1))) p += 1
        if (p > prefix) {
          FsAtomic.writePointer(f, timesRoot, "_EXPIRED_PREFIX", p.toString)
          ((prefix + 1) to p).foreach { k =>
            f.delete(new Path(timesRoot, s"t_batch=$k"), true)
            f.delete(new Path(timesRoot, s"expired_batch=$k"), true)
          }
        }
        fired
      }
    // journaled-empty (expired slices held zero docs): pure-data batch
    out.filter(_.head(1).nonEmpty)
  }
}
