package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over an edge/pair frame — the cluster-assignment
  * step that turns near-dup PAIRS (exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, cosine — every dedup op in [[TextOps]]/[[Similarity]] emits
  * `(id_a, id_b)` pairs) into "one canonical document per duplicate
  * cluster": every member of a transitively-connected group gets the
  * group's minimum id as its cluster id, so `keep = (id == cluster_id)`
  * and the drop set is everything else.
  *
  * Algorithm: hash-min label propagation — every node starts labeled with
  * itself, each round takes the min of its own and its neighbors' labels,
  * until a fixpoint. Each round is one equi-join plus one aggregation
  * (two shuffles), fully distributed; lineage is truncated per round with
  * `localCheckpoint` so plans don't grow with the iteration count.
  * Rounds needed = the graph diameter. Dedup graphs are the favorable
  * case: LSH band buckets and equal-hash groups produce clique-like
  * clusters whose diameter is small and independent of corpus size, so
  * the round count stays O(few) at 100 TB while each round scales as a
  * plain shuffle. (For general high-diameter graphs the large-star/
  * small-star variant halves rounds; not needed for dedup shapes.)
  */
object Components {

  /** Label every node reachable through `pairs` with the minimum id in
    * its component. Output: (id, component); ids keep the pair columns'
    * type (min works on any ordered type, longs and strings included).
    * Nodes not mentioned in any pair are absent — unpaired docs are their
    * own cluster by definition and need no shuffle to learn it.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame =
    connectedComponentsWithStats(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] plus the number of label-propagation rounds
    * executed — the iteration budget a dedup audit wants pinned (rounds =
    * cluster diameter; > a handful on an LSH graph means the candidate
    * generator is linking things it shouldn't).
    *
    * The convergence probe rides the label aggregation itself via
    * `observe`: the edge set carries one SELF-LOOP per node, so a single
    * join delivers each node's own previous label (via its self-edge)
    * next to its neighbors' labels — `min` is the new label, the
    * self-edge's value the old one, and a CollectMetrics sum of
    * (new != old) comes back with the materializing action. No separate
    * join+count job, and each round references the previous frame exactly
    * ONCE — which is what lets `checkpointEvery` chain several rounds
    * into one job: only every k-th round pays a `localCheckpoint`
    * materialization (the per-JOB floor the iterative composites q107/
    * q109 sit on), while the per-round observations still resolve with
    * that one action, so the reported round count stays EXACT (labels
    * decrease monotonically; the first round with zero changes is the
    * fixpoint, and any chained rounds after it are no-ops).
    */
  def connectedComponentsWithStats(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30,
      /** Rounds chained per materialization (1 = checkpoint every round,
        * the pre-round-12 behavior). Result and round count are
        * checkpoint-cadence-independent (spec-pinned). Default 3: LSH/
        * star-edge graphs converge by round 3 in the common case, so one
        * materialization (plus the edge pin) covers the whole run — a
        * driver job fewer than the old default of 2 (A/B'd r17).
        */
      checkpointEvery: Int = 3): (DataFrame, Int) = {
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val directed = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val edges = directed
      .union(directed.select(col("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // NOT checkpointed: the init labels are consumed exactly once (by
    // round 1's join), so materializing them separately would pay one
    // extra driver-job round trip per CC invocation — the distinct folds
    // into round 1's job instead, reading the checkpointed edge blocks
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val k = math.min(checkpointEvery, maxIter - iter)
      val obss = (1 to k).map(j =>
        new org.apache.spark.sql.Observation(s"cc_changed_${iter + j}"))
      var cur = labels
      obss.foreach { obs =>
        cur = edges.as("e")
          .join(cur.as("l"), col("e.dst") === col("l.id"))
          .groupBy(col("e.src").as("id"))
          .agg(min(col("l.component")).as("component"),
            max(when(col("e.src") === col("e.dst"), col("l.component")))
              .as("old"))
          .observe(obs, sum(when(col("component") =!= col("old"), 1L)
            .otherwise(0L)).as("changed"))
          .select(col("id"), col("component"))
      }
      labels = cur.localCheckpoint(true) // one action resolves all k probes
      val changed = obss.map(_.get.getOrElse("changed", null) match {
        case n: java.lang.Long => n.longValue()
        case _                 => 0L // empty frame: sum over no rows is null
      })
      val zeroAt = changed.indexWhere(_ == 0L)
      if (zeroAt >= 0) { converged = true; iter += zeroAt + 1 }
      else iter += k
    }
    (labels, iter)
  }

  /** INCREMENTAL connected components: fold a batch of NEW pairs into a
    * STANDING label set without re-running label propagation over the
    * whole history — the cluster-maintenance step of a continuous ingest
    * loop, where each micro-batch's near-dup pairs (signature-store
    * matches, within-batch LSH pairs) must update the corpus's dedup
    * clusters. Semantics: the result equals [[connectedComponents]] over
    * (standing membership edges ∪ new pairs) — min id per component —
    * but the WORK is bounded by the affected subgraph, not the corpus:
    *
    *  1. components TOUCHED by a new pair are found with one semi-join
    *     (new-pair endpoints → their standing labels);
    *  2. only members of touched components + the new pairs enter label
    *     propagation (standing components are star-shaped — every member
    *     points at its label — so the subgraph's diameter stays small);
    *  3. untouched components pass through with zero shuffle beyond the
    *     one anti-join that selects them.
    *
    * At 100 TB that's the difference between re-clustering billions of
    * docs per batch and touching the handful of clusters a batch
    * actually links. No driver-side materialization anywhere: touched
    * labels live in a (semi/anti-)join build side bounded by the batch's
    * pair count.
    *
    * Output: (id, component) for every node in `standing` plus every
    * node mentioned in `newPairs` — the new standing label set.
    */
  def incrementalComponents(
      standing: DataFrame, idColS: String, labelColS: String,
      newPairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame = {
    val labels = standing.select(
      col(idColS).as("id"), col(labelColS).as("component"))
    // r18: a pair whose endpoints already share a standing label is a
    // no-op — it links two members of one component and cannot change any
    // min — so only EFFECTIVE pairs (labels differ, or an endpoint is a
    // brand-new node) enter the subgraph. A trickle batch whose every
    // pair re-observes known duplicates (the steady-state common case)
    // now returns the standing labels after ONE pinning job, instead of
    // paying star-edge assembly plus chained label-propagation rounds
    // that provably change nothing (the "no-op chained rounds" waste).
    // The effective count rides the pinning action as an observed metric.
    val la = labels.select(col("id").as("pa"), col("component").as("__ca"))
    val lb = labels.select(col("id").as("pb"), col("component").as("__cb"))
    val obs = new org.apache.spark.sql.Observation()
    val pl = newPairs.select(col(aCol).as("pa"), col(bCol).as("pb"))
      .join(la, Seq("pa"), "left").join(lb, Seq("pb"), "left")
      .filter(col("__ca").isNull || col("__cb").isNull ||
        col("__ca") =!= col("__cb"))
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true) // read once for touch-detection, once as edges
    if (graft.util.Observed.long(obs, "n") == 0L) return labels
    val pairs = pl.select(col("pa"), col("pb"))
    // components whose membership can change = standing labels of the
    // effective pairs' endpoints (endpoints unknown to the standing set
    // are brand-new nodes and only live in the subgraph)
    val touched = pl.select(col("__ca").as("component"))
      .union(pl.select(col("__cb").as("component")))
      .filter(col("component").isNotNull).distinct()
      .localCheckpoint(true)
    val affected = labels.join(
      touched.withColumnRenamed("component", "__t"),
      col("component") === col("__t"), "left_semi")
    // star edges member->label carry each touched component's structure;
    // new pairs splice components (and new nodes) together
    val subEdges = affected.select(col("id").as("pa"), col("component").as("pb"))
      .union(pairs)
    val relabeled = connectedComponents(subEdges, "pa", "pb", maxIter)
    val untouched = labels.join(
      touched.withColumnRenamed("component", "__t"),
      col("component") === col("__t"), "left_anti")
    untouched.unionByName(relabeled)
  }

  /** Dedup selection over a pair frame: one row per clustered doc with
    * its cluster id and whether it is the KEPT canonical representative
    * (the cluster's minimum id — deterministic, engine-independent).
    */
  def dedupClusters(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter)
      .select(col("id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("keep"))

  /** Quality-aware dedup selection: like [[dedupClusters]], but the kept
    * representative is chosen by a caller-supplied score — highest score
    * wins, minimum id breaks ties — instead of blindly keeping the
    * minimum id. This is how production pipelines pick WHICH near-dup to
    * keep (longest document, highest quality-classifier score, newest
    * fetch); min-id keeps whichever happened to be crawled first.
    * Output: (id, cluster_id, <scoreCol>, keep), one row per clustered
    * doc; the score column keeps its caller-facing name. Deterministic
    * for any score type with a total order.
    *
    * Scale shape: the clusters frame is bounded by the duplicate rate,
    * not the corpus; scores join in by id (AQE broadcasts the smaller
    * side), and the keeper rank windows per cluster_id — cardinality ~
    * number of clusters, group size ~ cluster size, so no task ever sees
    * more than one cluster's members: the opposite of the low-cardinality
    * window shape packTokenBudget had to bound away.
    */
  def dedupClustersBy(
      pairs: DataFrame, aCol: String, bCol: String,
      scores: DataFrame, idCol: String, scoreCol: String,
      maxIter: Int = 30): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol, maxIter)
    val scored = cc.join(
      scores.select(col(idCol).as("id"), col(scoreCol)), Seq("id"))
    val keeperRank = Window.partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col("id").asc)
    scored
      .withColumn("__rn", row_number().over(keeperRank))
      .select(col("id"), col("component").as("cluster_id"), col(scoreCol),
        (col("__rn") === 1).as("keep"))
  }

  /** Dedup audit: how big are the duplicate clusters? Output one row per
    * observed cluster size — (cluster_size, n_clusters, n_docs) — the
    * profile a corpus build reports alongside its survival counts (a fat
    * tail of huge clusters means boilerplate or a crawler trap, not
    * ordinary duplication). Two hash aggregations, both keyed on bounded
    * domains (clusters, then distinct sizes); n_docs is a projection,
    * not a third pass.
    */
  def clusterSizeProfile(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter)
      .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** The materialization step: the corpus that SURVIVES dedup. Drops every
    * clustered document except its cluster's canonical representative
    * (minimum id); documents in no pair pass through untouched. This is
    * the "write the deduplicated corpus" end of the pipeline that
    * [[TextOps.minhashCandidates]]/[[TextOps.minhashDedupPairsApprox]]
    * start.
    *
    * Scale shape: the drop set is `clustered docs - clusters` — bounded by
    * the duplicate rate, not the corpus — so at a typical 10-30% dup rate
    * the anti-join's build side is a fraction of the corpus and hashes on
    * id in one shuffle (AQE converts it to broadcast when it fits). The
    * corpus itself is scanned once and never sorted.
    */
  def dedupedCorpus(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame = {
    val drop = dedupClusters(pairs, aCol, bCol, maxIter)
      .filter(!col("keep")).select(col("id").as("__drop_id"))
    docs.join(drop, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** Leakage-safe train/val/test assignment: the whole near-dup CLUSTER
    * lands in one split, decided by the salted hash of the cluster id —
    * never the individual doc id. Doc-level assignment
    * ([[TextOps.assignSplit]]) silently puts two near-duplicates on
    * opposite sides of the train/test fence, which is exactly the
    * contamination a dedup pass exists to prevent; splitting AFTER
    * clustering but BY cluster closes that hole even when the pipeline
    * chooses to keep both near-dups (e.g. for dedup-rate ablations).
    *
    * Output: (idCol, cluster_id, split) — one row per doc; unpaired docs
    * are their own singleton cluster (cluster_id = own id), so their
    * assignment coincides with [[TextOps.assignSplit]] and only clustered
    * docs can differ from the doc-level gate.
    *
    * Scale shape: the component frame is bounded by the duplicate rate,
    * not the corpus, so the docs-side left join broadcasts it under AQE;
    * the split gate itself is a salted-hash projection — map-side, no
    * extra shuffle beyond [[connectedComponents]]' own rounds.
    */
  def leakageSafeSplits(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      splits: Seq[(String, Double)], maxIter: Int = 30): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol, maxIter)
      .select(col("id").as(idCol), col("component"))
    val clustered = docs.select(col(idCol))
      .join(cc, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("component"), col(idCol)))
      .drop("component")
    TextOps.assignSplit(clustered, "cluster_id", splits)
      .select(col(idCol), col("cluster_id"), col("split"))
  }
}
