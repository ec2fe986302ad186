package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl._
import graft.schema.CrawlStateUrl

/** The partition-local crawl round: seam partition p owns the frontier
  * buckets b ≡ p (mod parts), reads their files and WAL rows in its own
  * task, and schedules, fetches and folds domain state there.
  */
class PartitionLocalRoundSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def chains(domains: Seq[String], pages: Int) = WebGraph(
    domains.flatMap(d => (0 to pages).map { i =>
      (if (i == 0) d else s"$d/p$i") ->
        (if (i == pages) Seq.empty[String] else Seq(s"$d/p${i + 1}"))
    }): _*)

  test("every row of a 40-domain store sits in the partition that owns its bucket") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-owned").toString
    def rows(from: Int, n: Int, status: String) = (0 until 40).flatMap(d =>
      (from until from + n).map(i =>
        CrawlStateUrl(s"http://d$d.com/p$i", s"d$d.com", status, i.toLong, 1.0f, 0L)))
    val stored = rows(0, 3, "FETCHED")
    FrontierStore.mergeInto(spark, root, stored.toDF(), buckets = 64)
    // two pending WAL batches: p2 is also stored (the FETCHED row wins),
    // p3 is sighted twice (the scores sum)
    val wal = Seq(rows(2, 2, "UNFETCHED"), rows(3, 2, "UNFETCHED"))
    wal.zipWithIndex.foreach { case (b, seq) =>
      FrontierStore.appendWal(spark, root, b.toDF(), seq.toLong) }
    val conf = spark.sparkContext.broadcast(
      new SerializableWritable(spark.sparkContext.hadoopConfiguration))
    val got = FrontierStore.ownedRows(spark, root, 4, 64, conf)
      .mapPartitionsWithIndex((p, it) => it.map(r => (p, r))).collect().toSeq
    // the owner each row must sit in, by Spark's own bucket function
    val owner = stored.map(_.pld).distinct.toDF("pld")
      .select(col("pld"), (pmod(xxhash64(col("pld")), lit(64)) % 4).cast("int"))
      .as[(String, Int)].collect().toMap
    assert(owner.values.toSet == Set(0, 1, 2, 3), s"40 domains leave an owner empty: $owner")
    val misplaced = got.filter { case (p, r) => owner(r.pld) != p }
    assert(misplaced.isEmpty, s"rows outside their owner: ${misplaced.take(3)}")
    val merged = graft.operators.UrlStateMerger
      .mergeFrontier((stored ++ wal.flatten).toDF()).as[CrawlStateUrl].collect()
    assert(got.map(_._2).sortBy(_.url) == merged.toSeq.sortBy(_.url))
    assert(got.map(_._2).count(_.score == 2.0f) == 40)
  }

  test("a crawl with no valid seeds against a fresh store ends after one round") {
    Seq(Seq.empty[(String, Float)], Seq(("not a url", 1.0f))).foreach { seeds =>
      val root = java.nio.file.Files.createTempDirectory("graft-noseeds").toString
      val r = CrawlTopology.run(spark, seeds, new WebGraphFetcher(WebGraph()),
        new MapRobotsFetcher(Map.empty), CrawlConfig(maxRounds = 3, frontierRoot = Some(root)))
      assert(r.rounds == 1)
      assert(r.frontier.count() == 0)
      assert(FrontierStore.readResolved(spark, root).forall(_.count() == 0))
    }
  }

  test("a seam task attempt that fails after fetching retries to the same candidates, no duplicate WAL or journal rows") {
    val domains = Seq("ra.com", "rb.com", "rc.com", "rd.com")
    val graph = chains(domains, 4)
    def crawl(fetcher: Fetcher) = {
      val root = java.nio.file.Files.createTempDirectory("graft-retry").toString
      CrawlTopology.run(spark, domains.map(d => (d, 1.0f)), fetcher,
        new MapRobotsFetcher(Map.empty),
        CrawlConfig(maxRounds = 8, frontierRoot = Some(root),
          frontierCompactEvery = 100, fetchThreads = 1, robotsThreads = 1))
    }
    def facts(r: CrawlResult) = (
      r.frontier.as[CrawlStateUrl](org.apache.spark.sql.Encoders.product[CrawlStateUrl])
        .collect().toSet,
      r.journal.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")))
    val clean = facts(crawl(new WebGraphFetcher(graph)))
    RetryLog.fetches.clear()
    val retried = org.apache.spark.TestRetries(spark.sparkContext, 2) {
      facts(crawl(new FailOnceFetcher(new WebGraphFetcher(graph), "http://rb.com/p2")))
    }
    val log = RetryLog.fetches.asScala.toSeq
    val failed = log.filter { case (_, _, attempt, url) =>
      attempt == 0 && url == "http://rb.com/p2" }
    assert(failed.size == 1, s"the injected failure never ran: $log")
    val (stage, part, _, _) = failed.head
    def attempt(n: Int) = log.collect { case (`stage`, `part`, `n`, u) => u }
    assert(attempt(1).take(attempt(0).size) == attempt(0),
      s"the retry saw other candidates: ${attempt(0)} then ${attempt(1)}")
    assert(retried._2.distinct == retried._2, "duplicate journal rows")
    assert(retried == clean, "the retried crawl's frontier or journal differs")
  }

  test("no Exchange below the seam's fetch: the fetch stage has no parent stage") {
    val domains = (0 until 6).map(i => s"x$i.com")
    val lineage = new StageLineage
    val sc = spark.sparkContext
    val root = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    RetryLog.fetches.clear()
    sc.addSparkListener(lineage)
    try {
      CrawlTopology.run(spark, domains.map(d => (d, 1.0f)),
        new FailOnceFetcher(new WebGraphFetcher(chains(domains, 3)), ""),
        new MapRobotsFetcher(Map.empty),
        // one fetch thread: the fetcher runs on the task's own thread
        CrawlConfig(maxRounds = 5, frontierRoot = Some(root), frontierCompactEvery = 2,
          fetchThreads = 1))
      org.apache.spark.TestBus.drain(sc)
    } finally sc.removeSparkListener(lineage)
    val fetchStages = RetryLog.fetches.asScala.map(_._1).toSet
    assert(fetchStages.size >= 4, s"fetch stages: $fetchStages")
    fetchStages.foreach { s =>
      assert(!lineage.parents.containsKey(s), s"stage $s has parents ${lineage.parents.get(s)}")
      val plan = lineage.plans.get(lineage.execution.get(s))
      assert(plan != null && !plan.contains("Exchange"), s"stage $s runs under\n$plan")
    }
  }
}

/** Page fetches seen by [[FailOnceFetcher]]: (stage, partition, attempt, url). */
object RetryLog {
  val fetches = new ConcurrentLinkedQueue[(Int, Int, Int, String)]()
}

/** Fetches through `base` and logs each fetch with its task; the first
  * attempt of the task that fetches `failAfter` dies right after fetching
  * it.
  */
final class FailOnceFetcher(base: Fetcher, failAfter: String) extends Fetcher {
  override def fetch(url: String): FetchedPage = {
    val page = base.fetch(url)
    val tc = TaskContext.get()
    if (tc != null) {
      RetryLog.fetches.add((tc.stageId(), tc.partitionId(), tc.attemptNumber(), url))
      // not NonFatal, so Fetcher.safeFetch lets it fail the task
      if (url == failAfter && tc.attemptNumber() == 0)
        throw new InterruptedException(s"injected after fetching $url")
    }
    page
  }
}

/** Each stage's parent stages, the SQL execution each stage ran under and
  * each execution's physical plan.
  */
final class StageLineage extends SparkListener {
  val parents = new ConcurrentHashMap[Int, Seq[Int]]()
  val execution = new ConcurrentHashMap[Int, java.lang.Long]()
  val plans = new ConcurrentHashMap[java.lang.Long, String]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
    e.stageInfos.foreach { si =>
      if (si.parentIds.nonEmpty) parents.put(si.stageId, si.parentIds)
      exec.foreach(x => execution.put(si.stageId, java.lang.Long.valueOf(x.toLong)))
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      plans.put(java.lang.Long.valueOf(s.executionId), s.physicalPlanDescription)
    case _ =>
  }
}
