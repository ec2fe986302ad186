package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression pins: the load-bearing plan properties that
  * make the headline queries scale (predicate pushdown into the parquet
  * scan, TakeOrderedAndProject instead of a global sort, broadcast joins
  * for the dimension tables, no single-partition WindowExec for global
  * aggregates). A refactor that silently regresses one of these passes
  * the value-level oracles but loses the 100×-scale plan — this suite
  * makes that a test failure instead of a bench surprise.
  */
class PlanRegressionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** The FINAL adaptive plan: AQE may rewrite joins at runtime, so the
    * query executes first and only the final-plan section is asserted
    * (the initial plan legitimately contains pre-AQE operators).
    */
  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val fin = s.indexOf("== Final Plan ==")
    val init = s.indexOf("== Initial Plan ==")
    if (fin >= 0 && init > fin) s.substring(fin, init) else s
  }

  test("q01: filters are pushed into the parquet scan") {
    val plan = planOf("q01_filter_project")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    // the pushed set must be non-empty (not "PushedFilters: []")
    assert(!plan.contains("PushedFilters: []"), plan.take(2000))
  }

  test("q03: global top-K plans as TakeOrderedAndProject, not a full sort") {
    val plan = planOf("q03_topk_global")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q09: all three dimension joins broadcast") {
    val plan = planOf("q09_join_multi_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 3, s"expected >= 3 BroadcastHashJoin, got $broadcasts\n" +
      plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), "dimension join degraded to SMJ")
  }

  test("q44: global mean is a broadcast aggregate, not an empty-frame window") {
    val plan = planOf("q44_quota_ratio")
    assert(!plan.contains("Window"), // WindowExec/WindowGroupLimit both out
      "q44 regressed to a single-partition window:\n" + plan.take(3000))
  }

  test("q04: per-key top-K uses WindowGroupLimit pushdown") {
    val plan = planOf("q04_topk_per_key")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q56: benchmark shingles broadcast — corpus side joins without a shuffle") {
    // decontamination's scale contract: the (small) benchmark side
    // broadcasts, so the corpus explode flows straight into the join and
    // the only shuffle is the final per-doc partial->final count
    val plan = planOf("q56_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "benchmark join degraded to SMJ:\n" + plan.take(3000))
  }

  test("q58: no window over the corpus; global doc count broadcasts") {
    // removeBoilerplate's scale contract: segment doc-frequency is a
    // partial->final hash aggregate (never a per-seg window over the
    // exploded corpus), and the fractional threshold's 1-row corpus count
    // arrives by broadcast, not a shuffle
    val plan = planOf("q58_boilerplate")
    // plans print "Window", never "WindowExec" — match the real node
    assert(!plan.contains("Window ["),
      "seg df regressed to a window:\n" + plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "corpus-count join not broadcast:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q52: running sum sees only WindowGroupLimit-bounded rows per stratum") {
    // packTokenBudget's running-sum window partitions by stratum
    // (cardinality ~languages), which serializes each stratum onto one
    // task — survivable only because the rank pre-trim bounds its input
    // to at most `budget` rows per stratum, pruned map-side by
    // WindowGroupLimit BEFORE the stratum shuffle. This pin fails if the
    // pre-trim is dropped or stops qualifying for the rewrite.
    val plan = planOf("q52_token_budget")
    val wgl = plan.indexOf("WindowGroupLimit")
    assert(wgl >= 0, "rank pre-trim lost its WindowGroupLimit rewrite:\n" +
      plan.take(3000))
    // physical plans print leaves last: the bounding WindowGroupLimit must
    // appear BELOW (after, in print order) the running-sum Window it feeds
    val win = plan.indexOf("Window ")
    assert(win >= 0 && win < wgl,
      s"WindowGroupLimit must feed the running-sum Window (win=$win wgl=$wgl):\n" +
        plan.take(3000))
    // map-side partial pruning: both Partial and Final mode instances
    assert(plan.contains("Partial") && plan.contains("Final"),
      "WindowGroupLimit should run partial (map-side) then final:\n" +
        plan.take(3000))
  }

  test("q63: moment pass is one partial->final aggregate; global scale broadcasts") {
    // the Gram/moments contract: the corpus is read once, the typed
    // aggregator runs partial (map-side, full dim^2 multiply-adds) then
    // final — so the only corpus-wide exchange carries ONE buffer row per
    // task — and the 1-row global-scale aggregate arrives by broadcast
    // (the q44 pattern), never a cartesian or a corpus shuffle
    val plan = planOf("q63_embed_gram")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      "typed aggregator missing:\n" + plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "global-scale join not broadcast:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("Window ["), plan.take(3000))
  }

  test("q64: duplicated windows are one whash shuffle + per-hash window count") {
    // exact-substring dedup's scale contract (r17 form): the corpus is
    // tokenized+hashed ONCE and shuffled on whash ONCE; the frequency
    // filter is a count window PARTITIONED BY whash — a maximal-
    // cardinality key, so groups are occurrence-list-sized, never a
    // low-cardinality window bottleneck. The pre-r17 agg + self-join
    // form ran the tokenize+md5 subtree twice (no ReusedExchange across
    // self-join branches) and shuffled the corpus twice. Still never a
    // cartesian, and never a JOIN at all.
    val plan = planOf("q64_dup_spans")
    assert(plan.contains("Window ["),
      "whash frequency should be a window count:\n" + plan.take(3000))
    assert(plan.contains("windowspecdefinition(whash"),
      "window must partition by whash (max-cardinality key):\n" +
        plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("Join"),
      "q64 should need no join:\n" + plan.take(3000))
    // one corpus pass: exactly one scan of the documents table
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1,
      s"corpus should be read once, saw $scans scans:\n" + plan.take(3000))
    // one corpus shuffle: exactly one Exchange (the whash partitioning)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected exactly 1 Exchange (whash), saw $exchanges:\n" +
        plan.take(3000))
  }

  test("q65/q66/q67: statistics passes are explode + hash aggregate, nothing else") {
    // the classifier featurization, BPE word-frequency table, and bigram
    // LM counts share one scale contract: one corpus scan exploding to
    // terms/pairs, one partial->final hash aggregate — no window over the
    // exploded rows, no join at all in the statistics pass
    for (q <- Seq("q65_quality_feats", "q66_bpe_vocab", "q67_bigram_counts")) {
      val plan = planOf(q)
      assert(plan.contains("HashAggregate"), s"$q: " + plan.take(3000))
      assert(!plan.contains("Window ["),
        s"$q statistics regressed to a window:\n" + plan.take(3000))
      assert(!plan.contains("Join"), // no join operator of any kind
        s"$q should be scan+explode+aggregate only:\n" + plan.take(3000))
    }
  }

  test("q69: query terms broadcast onto the doc-term frame — no corpus-side SMJ") {
    // BM25's scale contract: the (small) query-term side broadcasts, so
    // the corpus-wide doc-term aggregate flows straight into the match
    // join; candidate aggregation is a partial->final hash aggregate
    val plan = planOf("q69_bm25_match")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "query-term join degraded to SMJ:\n" + plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("q71: fixed-size sampling rank prunes map-side via WindowGroupLimit") {
    // same bound as q52: the window partitions by a low-cardinality
    // stratum, survivable only because WindowGroupLimit caps each task's
    // contribution at n rows BEFORE the stratum shuffle
    val plan = planOf("q71_fixed_sample")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.contains("Partial") && plan.contains("Final"),
      "WindowGroupLimit should run partial (map-side) then final:\n" +
        plan.take(3000))
  }

  test("q68: SemDeDup pairs stay cell-bounded — grouped kernel, never cartesian") {
    // the quadratic term must stay bounded by cell size: the pair pass is
    // the within-cell kernel (one Exchange on the cell key feeding a
    // MapGroups whose task sees exactly one cell) — or, for any cell over
    // the hot-group cap, the spillable cell-equi self-join. Either way a
    // CartesianProduct or BroadcastNestedLoopJoin means the cell bound is
    // gone and the pair count is corpus-quadratic
    val plan = planOf("q68_semantic_dedup")
    assert(plan.contains("MapGroups") ||
      plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      "cell pair pass lost both the kernel and the equi key:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q73: stratum verdict broadcasts back — no corpus-side join shuffle") {
    // the gate's only corpus pass is scan + broadcast-join + filter; the
    // one shuffle in the plan is the stats aggregation down to stratum
    // cardinality. An SMJ here means the whole corpus re-sorted to join
    // against a ~20-row verdict frame.
    val plan = planOf("q73_source_gate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "stratum verdict join degraded to SMJ:\n" + plan.take(3000))
  }

  test("pqTopKRerank: shortlist broadcasts onto the corpus — no SMJ, no cartesian") {
    // the refine stage's scale contract: the |queries| x shortlist
    // candidate frame is the broadcast side of the id-equi-join back to
    // original vectors; the corpus streams through exactly once
    import org.apache.spark.sql.functions._
    val e = graft.queries.Tables.table(spark, sf, "embeddings")
    val cb = graft.operators.Similarity.pqTrain(
      e, "vec_id", "embedding", dim = 64, m = 8, ksub = 4, iters = 1)
      .localCheckpoint(true)
    val enc = graft.operators.Similarity.pqEncode(
      e, "vec_id", "embedding", cb, dim = 64, m = 8).localCheckpoint(true)
    val df = graft.operators.Similarity.pqTopKRerank(
      e.filter(col("vec_id") % 50 === 0), enc, cb, e,
      "vec_id", "embedding", dim = 64, m = 8, k = 3, shortlist = 9)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val fin = s.indexOf("== Final Plan ==")
    val init = s.indexOf("== Initial Plan ==")
    val plan = if (fin >= 0 && init > fin) s.substring(fin, init) else s
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q72: keeper rank windows per cluster_id (high-cardinality key)") {
    // the keeper-selection window partitions by cluster_id — fine at any
    // scale because a task sees one cluster's members, never a whole
    // stratum; assert the window survived and nothing degraded to a
    // cartesian pair join upstream
    val plan = planOf("q72_keeper_quality")
    assert(plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q76: edit-distance verify rides equi-joins — no cartesian pair blowup") {
    // candidate generation is the banded equi-join; text joins back by id.
    // A regression to a cartesian (all-pairs levenshtein) passes the
    // value oracle at sf0.001 and melts at corpus scale.
    val plan = planOf("q76_edit_verified")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q77: per-doc keyword rank prunes map-side via WindowGroupLimit") {
    val plan = planOf("q77_keywords")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q81: contamination report keeps the q56 broadcast shape") {
    // the report flips q56's aggregation to the benchmark side but the
    // scale contract is the same: bench shingles broadcast, corpus side
    // never shuffles before the join
    val plan = planOf("q81_contamination")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "benchmark join degraded to SMJ:\n" + plan.take(3000))
  }

  test("PlanChecks: the global-window detector fires on real plan strings") {
    // the previous flat-plan scans greped "WindowExec", which Spark plan
    // strings never contain — a silent false-green. Pin the detector
    // against ACTUAL executed plans so it cannot rot the same way.
    val spark2 = SparkTestSession.spark
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark2.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("x", "k")
    def planStr(d: org.apache.spark.sql.DataFrame) = {
      d.collect(); d.queryExecution.executedPlan.toString
    }
    val global = planStr(df.withColumn("s",
      sum("x").over(Window.orderBy("x"))))
    assert(graft.plans.PlanChecks.scaleViolations(global)
      .exists(_.startsWith("GlobalWindow")), global)
    val partitioned = planStr(df.withColumn("s",
      sum("x").over(Window.partitionBy("k").orderBy("x"))))
    assert(graft.plans.PlanChecks.scaleViolations(partitioned).isEmpty,
      partitioned)
    // partitioned-but-UNORDERED total (per-key sum over the whole group):
    // prints the same two-bracket-group shape as a global window but is
    // perfectly scalable — the detector must key on the sort-direction
    // token, not the group count
    val partUnordered = planStr(df.withColumn("s",
      sum("x").over(Window.partitionBy("k"))))
    assert(graft.plans.PlanChecks.scaleViolations(partUnordered).isEmpty,
      partUnordered)
    // global AND unordered — one bracket group, still a scale killer
    val globalUnordered = planStr(df.withColumn("s",
      sum("x").over(Window.partitionBy())))
    assert(graft.plans.PlanChecks.scaleViolations(globalUnordered)
      .exists(_.startsWith("GlobalWindow")), globalUnordered)
    assert(graft.plans.PlanChecks
      .scaleViolations("CartesianProduct\n") == Seq("CartesianProduct"))
  }

  test("q82/q83: sketch passes are projection + one hash aggregate, no join") {
    // the sketches' scale contract: nothing between the scan and the
    // constant-size aggregation — a join or window here means the
    // "bounded memory" claim silently became corpus-sized state
    Seq("q82_count_min", "q83_hll_registers").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("HashAggregate"), s"$q:\n" + plan.take(3000))
      assert(!plan.contains("Join"), s"$q:\n" + plan.take(3000))
      assert(!plan.contains("Window"), s"$q:\n" + plan.take(3000))
    }
  }

  test("q86: blocklist broadcasts — corpus explode flows straight into the join") {
    val plan = planOf("q86_blocklist")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "blocklist join degraded to SMJ:\n" + plan.take(3000))
  }

  test("q78: keep-first dedup is two hash shuffles — no join, no cartesian") {
    // the first-occurrence ranking partitions by segment (high-cardinality
    // key, tiny groups) and the rebuild aggregates per doc; there is no
    // join of any kind in the plan
    val plan = planOf("q78_keep_first")
    assert(plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q87: anchor aggregation is parse-explode + one hash shuffle, no join") {
    // the inlink aggregation's scale contract: parse is a projection,
    // explode is outlink-linear, and the only shuffle is the final
    // groupBy(target url) — nothing joins, nothing windows
    val plan = planOf("q87_anchor_text")
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q88: dsir ratio table broadcasts — corpus tokens never sort-merge") {
    // both histograms collapse map-side to <= buckets cells; the per-token
    // scoring join must be a broadcast of that bounded ratio table, never
    // an SMJ that sorts the exploded corpus. The p⋈q FULL OUTER between
    // the two histograms MAY sort-merge — both inputs are aggregates
    // bounded at `buckets` rows, so that sort is constant-size at any
    // corpus scale; only an INNER (corpus-side) SMJ is a regression.
    val plan = planOf("q88_dsir_scores")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    val smjInner = plan.linesIterator
      .filter(_.contains("SortMergeJoin")).filter(_.contains("Inner"))
    assert(smjInner.isEmpty,
      "corpus-side scoring join degraded to SMJ:\n" + plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q89: temperature plan is two bounded aggregates + 1-row broadcast") {
    // the weight-sum is a 1-row broadcast joined back (the q44 shape);
    // a Window or non-broadcast join here would serialize the plan table
    val plan = planOf("q89_temperature_mix")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q90: novelty df join is equi, never cartesian; no corpus window") {
    val plan = planOf("q90_novelty")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q26: simhash is one native call per row — no interpreted lambda") {
    val plan = planOf("q26_simhash")
    assert(!plan.contains("lambdafunction"), plan.take(3000))
  }

  test("q91: url quality is a pure projection — no join, agg, or exchange") {
    val plan = planOf("q91_url_quality")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(!plan.contains("Aggregate"), plan.take(3000))
  }

  test("q92: repetition grams are doc-scoped — only equi joins on doc_id") {
    val plan = planOf("q92_gopher_rep")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q92: repetition grams are doc-scoped — a pure projection, no " +
    "join, exchange, aggregate or generate") {
    val plan = planOf("q92_gopher_rep")
    Seq("Join", "Exchange", "Aggregate", "Generate").foreach { op =>
      assert(!plan.contains(op), s"$op in plan:\n" + plan.take(3000))
    }
    // the five output columns read one kernel call per row, never five
    assert("gopher_repetition_native".r.findAllIn(plan).size == 1,
      plan.take(3000))
  }

  test("q93: source overlap self-join is fingerprint-equi, never cartesian") {
    val plan = planOf("q93_source_overlap")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q114: the fence gate broadcasts onto the checkpointed distance " +
    "frame — the corpus-sized side never shuffles to meet it") {
    // the centroid broadcast lives inside the checkpointed dist lineage
    // (invisible to the final plan); what the final plan must show is the
    // strata-sized fence table arriving by broadcast, with no other join
    val plan = planOf("q114_embed_outliers")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1, plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q113: snapshot delta is ONE full-outer equi-join, verdicts are " +
    "map-side") {
    val plan = planOf("q113_snapshot_delta")
    assert(plan.contains("FullOuter"), plan.take(3000))
    // exactly one join (full outer never broadcasts an equi side; AQE
    // may pick sort-merge or shuffled-hash — both are the one-shuffle
    // co-partitioned shape), then every verdict is a projection
    val joins = "SortMergeJoin".r.findAllIn(plan).size +
      "ShuffledHashJoin".r.findAllIn(plan).size
    assert(joins == 1, s"expected exactly 1 equi-join, got $joins\n" +
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q14, q32, q91: URL work is native kernels, no UDF, regex or lambda") {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    Seq("q14_url_normalize", "q32_surt_key", "q91_url_quality").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val exprs = helper.collect(df.queryExecution.executedPlan) { case n => n }
        .flatMap(_.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName }))
        .toSet
      val banned = Set("ScalaUDF", "RegExpExtract", "RegExpReplace", "LambdaFunction")
      assert((exprs & banned).isEmpty, s"$q: ${exprs & banned}")
    }
  }
}
