package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HybridRetrieval, Similarity}

/** r18 kernel-guard pins: every r17 compute kernel replaced a Spark form
  * whose memory bound FAILED LOUDLY (BroadcastExchange cap) or spilled
  * (SMJ). The kernels must keep those properties explicitly:
  *  - `withinGroupPairs` routes groups over `spark.graft.kernel.maxGroupRows`
  *    to the spillable equi-join (a skewed LSH bucket / k-means cell can
  *    no longer OOM a task) — pair output identical either way;
  *  - the probe/query collects are bounded (`maxProbeRows`/`maxProbeBytes`)
  *    and null-safe: past the bound or on dirty data the operator takes
  *    its join-form fallback, never a silent driver OOM or encoder NPE;
  *  - k < 1 returns empty instead of throwing.
  */
class KernelGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
      r.getAs[Double]("cos"))).toSet

  // near-parallel vectors that land in one LSH bucket: one hot group
  private def hotBucketVecs = (0L until 12L).map { i =>
    (i, Array(1.0f + i * 0.001f, 2.0f - i * 0.001f, -1.0f, 0.5f))
  }.toDF("vec_id", "embedding")

  test("hot group routes to the spillable join — pairs identical to the kernel") {
    val kernelPairs = pairSet(Similarity.cosineDedupPairs(
      hotBucketVecs, "vec_id", "embedding",
      dim = 4, numPlanes = 8, threshold = 0.999))
    assert(kernelPairs.nonEmpty, "fixture must produce in-bucket pairs")
    val hotPairs = withConf("spark.graft.kernel.maxGroupRows" -> "4") {
      pairSet(Similarity.cosineDedupPairs(
        hotBucketVecs, "vec_id", "embedding",
        dim = 4, numPlanes = 8, threshold = 0.999))
    }
    assert(hotPairs == kernelPairs,
      s"join route diverged from kernel:\n got $hotPairs\n want $kernelPairs")
  }

  test("semanticDedupPairs: hot-cell route matches the kernel bit-for-bit") {
    val centroids = Seq(
      (0L, Array(1.0f, 2.0f, -1.0f, 0.5f)),
      (1L, Array(-1.0f, -2.0f, 1.0f, -0.5f))).toDF("vec_id", "embedding")
    val base = pairSet(Similarity.semanticDedupPairs(
      hotBucketVecs, "vec_id", "embedding",
      centroids, "vec_id", "embedding", dim = 4, threshold = 0.999))
    assert(base.nonEmpty)
    val hot = withConf("spark.graft.kernel.maxGroupRows" -> "3") {
      pairSet(Similarity.semanticDedupPairs(
        hotBucketVecs, "vec_id", "embedding",
        centroids, "vec_id", "embedding", dim = 4, threshold = 0.999))
    }
    assert(hot == base)
  }

  test("cosineTopK: probe-row guard falls back to the join form, same rows") {
    val corpus = (0L until 20L).map { i =>
      (i, Array((i % 5).toFloat + 0.1f, (i % 3).toFloat, 1.0f, 0.2f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    def run() = Similarity.cosineTopK(
      queries, corpus, "vec_id", "embedding", dim = 4, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rn"))).toSet
    val kernel = run()
    assert(kernel.nonEmpty)
    val fellBack = withConf("spark.graft.kernel.maxProbeRows" -> "1")(run())
    assert(fellBack == kernel,
      s"fallback diverged:\n got $fellBack\n want $kernel")
  }

  test("cosineTopK: a null vector routes to the join form instead of an NPE") {
    val corpus = (0L until 8L).map { i =>
      (i, Array(i.toFloat + 1f, 1.0f, 0.5f, 0.2f))
    }.toDF("vec_id", "embedding")
    val queries = Seq(
      (100L, Array(1.0f, 1.0f, 0.5f, 0.2f)),
      (101L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    // must not throw; the clean query still ranks the corpus
    val rows = Similarity.cosineTopK(
      queries, corpus, "vec_id", "embedding", dim = 4, k = 2).collect()
    assert(rows.exists(_.getAs[Long]("query_id") == 100L))
  }

  test("cosineTopK: k = 0 is empty, not an exception") {
    val corpus = (0L until 5L).map(i => (i, Array(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.cosineTopK(
      corpus, corpus, "vec_id", "embedding", dim = 2, k = 0).count() == 0L)
  }

  test("lexicalRank: probe guard falls back to the matchStats join, same ranking") {
    val docs = Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "duckdb is an in process analytical database"),
      (3L, "spark joins shuffle data unless broadcast"),
      (4L, "web crawls fetch robots rules first")
    ).toDF("doc_id", "text")
    val queries = Seq(
      (10L, "spark shuffle data"), (11L, "robots rules")
    ).toDF("query_id", "qtext")
    def run() = HybridRetrieval.lexicalRank(
      docs, "doc_id", "text", queries, "query_id", "qtext", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("lex_rn"))).toSet
    val kernel = run()
    assert(kernel.nonEmpty)
    val fellBack = withConf("spark.graft.kernel.maxProbeRows" -> "1")(run())
    assert(fellBack == kernel,
      s"fallback diverged:\n got $fellBack\n want $kernel")
  }

  test("spreadToSlots reads the width off the plan: no upstream stage runs") {
    val corpus = (0L until 64L).map(i => (i % 8, Array(i.toFloat, 1.0f)))
      .toDF("g", "embedding")
      .groupBy("g").agg(first("embedding").as("embedding"))
    val (spread, jobs) = JobsDuring(spark)(Similarity.spreadToSlots(corpus))
    assert(jobs == 0)
    assert(spread.count() == 8L)
  }
}
