package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload and writes its
  * measurements as one JSON object to `--out`. `perfbench/run.py` builds
  * this program, makes the inputs, starts it, checks the query outputs
  * against the oracle and prints the result line.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <dir> --work <dir> --out <file> --cpus <n> [--smoke]
  */
object Main {

  /** A failed step: the message names the workload step that failed. */
  final class StepFailed(val step: String, cause: Throwable)
    extends RuntimeException(s"${cause.getClass.getName}: ${cause.getMessage}", cause)

  /** Runs one named step, logging its start and end with the JVM's uptime
    * to stderr; a failure inside it is reported under the step's name.
    */
  def step[T](name: String)(body: => T): T =
    try {
      System.err.println(f"perfbench: ${uptimeS()}%.1f s start $name")
      val r = body
      System.err.println(f"perfbench: ${uptimeS()}%.1f s done $name")
      r
    } catch {
      case e: StepFailed => throw e
      case e: Throwable => throw new StepFailed(name, e)
    }

  val kernelQueries = Seq(
    "q14_url_normalize", "q26_simhash", "q32_surt_key", "q75_span_excision",
    "q91_url_quality", "q92_gopher_rep", "q95_parse_text", "q96_robots_rules")
  val storeQueries = Seq(
    "q101_store_dedup", "q118_frontier_retire", "q123_frontier_banded")

  /** The run's random source. Mixing the seed first keeps nearby seeds
    * from drawing correlated first values, which java.util.Random does.
    */
  def random(seed: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples beyond it, or the
    * maximum when there are fewer than twenty samples: (value, percentile).
    */
  private def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 20) (if (s.isEmpty) 0.0 else s.last, 100.0)
    else {
      val idx = s.size - 11
      (s(idx), 100.0 * (idx + 1) / s.size)
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }

  private def uptimeS(): Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
    }.toMap
    val workload = opts("workload")
    val out = opts("out")
    val work = opts("work")
    val smoke = args.contains("--smoke")
    val cpus = opts("cpus").toInt
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val record = mutable.LinkedHashMap.empty[String, Any]
    record("workload") = workload
    try {
      val spark = step("session start") {
        SparkSession.builder()
          .master(s"local[$cpus]")
          .appName(s"perfbench-$workload")
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.ui.enabled", "false")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.local.dir", s"$work/spark-local")
          .config("spark.sql.warehouse.dir", s"$work/warehouse")
          .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
          .getOrCreate()
      }
      spark.sparkContext.setLogLevel("ERROR")
      val tracing = if (traced) Some(new Tracing(spark.sparkContext)) else None
      val metrics = mutable.LinkedHashMap.empty[String, Double]
      val checks = mutable.LinkedHashMap.empty[String, Boolean]
      val failures = mutable.ArrayBuffer.empty[String]
      var failedOps = 0L
      // `ops`: how many operations the miss stands for (failed fetches,
      // politeness violations); every miss counts at least one
      def check(name: String, ok: Boolean, detail: => String, ops: Long = 1): Unit = {
        checks(name) = ok
        if (!ok) {
          failures += s"$name: $detail"
          failedOps += math.max(1L, ops)
        }
      }
      var setupS = 0.0
      var gcAtSetup = 0L
      val setupDone = () => { setupS = uptimeS(); gcAtSetup = gcMs() }
      var attempted = 0L

      workload match {
        case "crawl_loopback" =>
          val shape = if (smoke) CrawlWorkload.smoke else CrawlWorkload.full
          val warm = step("warm-up crawl") {
            CrawlWorkload.crawl(spark, shape, cpus, seed, s"$work/crawl-warm",
              new RoundClock(0.0, shape.warmRounds, None), None)
          }
          setupDone()
          // a traced crawl needs rounds 2-5 for one u t t u group
          val clock = new RoundClock(Trace.now() + seconds * 1000,
            if (traced) 5 else shape.warmRounds, tracing)
          val c = step("measured crawl") {
            CrawlWorkload.crawl(spark, shape, cpus, seed, s"$work/crawl", clock,
              tracing)
          }
          val gcRun = gcMs() - gcAtSetup
          val rounds = clock.rounds
          val roundMs = rounds.map { case (_, s, e) => e - s }
          val pages = c.fleet.pageHits.get()
          attempted = warm.fleet.pageHits.get() + pages
          metrics("ops_per_s") = pages / (c.wallMs / 1000)
          metrics("round_p50_ms") = median(roundMs)

          step("correctness checks") {
            for ((name, x) <- Seq("warm-up" -> warm, "measured" -> c)) {
              val statuses = x.result.journal
                .filter("stage = 'fetch' and status <> 'FETCHED'").count()
              check(s"$name fetches all succeed", statuses == 0,
                s"$statuses fetches did not return FETCHED", statuses)
              val violations = x.fleet.politenessViolations.get()
              check(s"$name politeness", violations == 0,
                s"$violations page hits inside a crawl delay", violations)
              val warc = CrawlWorkload.warcRecords(x.root)
              check(s"$name warc records", warc == x.fleet.pageHits.get(),
                s"$warc WARC records for ${x.fleet.pageHits.get()} pages fetched")
              val domains = x.result.frontier.select("pld").distinct().count()
              check(s"$name robots per domain", x.fleet.robotsHits.get() <= domains,
                s"${x.fleet.robotsHits.get()} robots fetches for $domains domains")
            }
            val warmCounts = (1 to shape.warmRounds).map(warm.pagesPerRound.getOrElse(_, 0L))
            val measuredCounts = (1 to shape.warmRounds).map(c.pagesPerRound.getOrElse(_, 0L))
            check("page counts repeat", warmCounts == measuredCounts,
              s"rounds 1-${shape.warmRounds} fetched $measuredCounts, warm-up crawl $warmCounts")
          }
          record("round_ms") = roundMs
          record("pages") = pages
          record("min_gap_ms") = c.fleet.minGapMs

          tracing.foreach { t =>
            val l = t.listener
            val tracedRounds = rounds.filter(r => clock.tracedRounds.contains(r._1))
            tracedRounds.foreach { case (r, s, e) => Trace.record("round", s"round-$r", s, e) }
            putSplits(metrics, tracedRounds.map { case (_, s, e) => LayerSplit.of(l, s, e) })
            val (tailMs, tailPct) = tail(roundMs)
            metrics("round.tail_ms") = tailMs
            metrics("round.tail_pct") = tailPct
            // skip round 1, which fetches every seed domain's robots.txt
            val steady = roundMs.drop(1)
            val third = math.max(1, steady.size / 3)
            metrics("round.flatness") =
              mean(steady.takeRight(third)) / math.max(1e-9, mean(steady.take(third)))
            val (fb, ff) = CrawlWorkload.frontierStats(c.root)
            metrics("crawl.frontier.bytes") = fb.toDouble
            metrics("crawl.frontier.files") = ff.toDouble
            val n = math.max(1, tracedRounds.size).toDouble
            val fetches = Trace.inLayer("fetch")
            metrics("crawl.fetch.calls") = fetches.size / n
            metrics("crawl.fetch.busy_ms") = fetches.map(_.ms).sum / n
            metrics("crawl.fetch.failed") = fetches.count(!_.name.startsWith("200 ")).toDouble
            val domains = c.result.frontier.select("pld").distinct().count()
            metrics("crawl.robots.calls") = c.fleet.robotsHits.get().toDouble
            metrics("crawl.robots.per_domain") = c.fleet.robotsHits.get().toDouble / math.max(1, domains)
            metrics("fleet.max_in_flight") = c.fleet.maxInFlight.get().toDouble
            metrics("sinks.warc.calls") = c.warcCalls / n
            metrics("sinks.warc.ms") = c.warcMs / n
            metrics("sinks.warc.bytes") = c.warcBytes / n
            val untraced = rounds.drop(1).filterNot(r => clock.tracedRounds.contains(r._1))
            val tracedMs = tracedRounds.filter(_._1 > 1).map { case (_, s, e) => e - s }
            metrics("trace_overhead_frac") =
              median(tracedMs) / math.max(1e-9, median(untraced.map { case (_, s, e) => e - s })) - 1
            metrics("jvm.gc_ms") = gcRun.toDouble / math.max(1, rounds.size)
            putSelf(metrics, writeSpans(s"$work/spans.jsonl", l), n)
          }

        case "queries_kernels" | "store_lifecycle" =>
          val all = if (workload == "queries_kernels") kernelQueries else storeQueries
          val queries = if (smoke) all.take(2) else all
          record("queries") = queries
          val o = QueryWorkload.run(spark, queries, opts("data"), s"$work/verify",
            seconds, seed, tracing, setupDone)
          val gcRun = gcMs() - gcAtSetup
          attempted = o.attempted
          checks("digest repeats") = o.misses.isEmpty
          failures ++= o.misses.map(m => s"digest repeats: $m")
          failedOps += o.misses.size
          val passMs = o.passes.filterNot(_.traced).map(_.wallMs)
          // the first timed pass still runs 20-40% slower while the JIT
          // warms up: the end-to-end figures use the passes after it
          val counted = if (passMs.size > 1) passMs.tail else passMs
          metrics("ops_per_s") = counted.size * queries.size / (counted.sum / 1000)
          metrics("round_p50_ms") = median(counted)
          record("order") = o.order
          record("pass_ms") = o.passes.map(_.wallMs)
          record("query_ms") = o.times.map(t => s"${t.query}@${t.pass}" -> t.wallMs).toMap
          record("oracle_sql") = queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
          tracing.foreach { t =>
            val l = t.listener
            val tracedPasses = o.passes.filter(_.traced)
            putSplits(metrics, tracedPasses.map(p => LayerSplit.of(l, p.startMs, p.endMs)))
            val (tailMs, tailPct) = tail(passMs)
            metrics("round.tail_ms") = tailMs
            metrics("round.tail_pct") = tailPct
            metrics("round.flatness") = passMs.last / math.max(1e-9, passMs.head)
            queries.foreach { q =>
              val mine = o.times.filter(_.query == q)
              metrics(s"$q.full_s") = median(mine.filterNot(_.traced).map(_.wallMs)) / 1000
              val splits = mine.filter(_.traced).map(x => LayerSplit.of(l, x.startMs, x.endMs))
              metrics(s"$q.jobs") = median(splits.map(_.jobs.toDouble))
              if (workload == "queries_kernels")
                metrics(s"$q.task_cpu_s") = median(splits.map(_.taskCpuMs)) / 1000
              else
                metrics(s"$q.driver_gap_s") = median(splits.map(_.driverGapMs)) / 1000
            }
            metrics("trace_overhead_frac") =
              median(tracedPasses.map(_.wallMs)) / math.max(1e-9, median(passMs)) - 1
            metrics("jvm.gc_ms") = gcRun.toDouble / math.max(1, o.passes.size)
            putSelf(metrics, writeSpans(s"$work/spans.jsonl", l),
              math.max(1, tracedPasses.size).toDouble)
          }

        case other => throw new StepFailed("arguments",
          new IllegalArgumentException(s"unknown workload '$other'"))
      }
      metrics("setup_s") = setupS
      if (traced) metrics("jvm.peak_rss_mb") = peakRssMb()
      record("attempted") = attempted
      record("failed") = failedOps
      record("checks") = checks
      record("failures") = failures
      record("metrics") = metrics
      step("stop session")(spark.stop())
      Files.writeString(Paths.get(out), json(record))
      // no stray non-daemon thread may keep the benchmark waiting
      System.exit(0)
    } catch {
      case e: Throwable =>
        val stepName = e match {
          case f: StepFailed => f.step
          case _ => "run"
        }
        System.err.println(s"perfbench: $workload failed at step '$stepName': ${e.getMessage}")
        e.printStackTrace()
        System.exit(3)
    }
  }

  private def putSplits(metrics: mutable.Map[String, Double], splits: Seq[LayerSplit]): Unit = {
    def med(f: LayerSplit => Double) = median(splits.map(f))
    metrics("round.jobs") = med(_.jobs.toDouble)
    metrics("round.tasks") = med(_.tasks.toDouble)
    metrics("round.driver_gap_ms") = med(_.driverGapMs)
    metrics("round.task_cpu_ms") = med(_.taskCpuMs)
    metrics("round.shuffle_bytes") = med(_.shuffleBytes.toDouble)
    metrics("round.spill_bytes") = med(_.spillBytes.toDouble)
    metrics("round.output_bytes") = med(_.outputBytes.toDouble)
  }

  /** Layers whose self time the traced run reports, per traced round or
    * pass: the crawl round or query pass driver, one query, the WARC sink,
    * a Spark job, and a page or robots fetch.
    */
  val selfLayers = Seq("round", "pass", "query", "sinks", "job", "fetch", "robots")

  private def putSelf(metrics: mutable.Map[String, Double],
      self: Map[String, Double], iterations: Double): Unit =
    selfLayers.foreach(layer =>
      metrics(s"self.$layer.ms") = self.getOrElse(layer, 0.0) / iterations)

  /** Writes every recorded span, plus one span per Spark job, as JSON
    * lines; each span's parent is the tightest span of another layer that
    * contains it. Returns each layer's total self time: its spans' length
    * minus the part their children cover.
    */
  private def writeSpans(path: String, l: JobListener): Map[String, Double] = {
    l.all.foreach(j => Trace.record("job", s"job-${j.jobId}", j.startMs,
      if (j.endMs.isNaN) j.startMs else j.endMs))
    val spans = Trace.all
    val parent = spans.map { s =>
      s.id -> spans.filter(p => p.layer != s.layer && p.startMs <= s.startMs &&
        p.endMs >= s.endMs && p.ms > s.ms).sortBy(_.ms).headOption.map(_.id).getOrElse(0L)
    }.toMap
    val children = spans.groupBy(s => parent(s.id))
    val w = new java.io.PrintWriter(new File(path), "UTF-8")
    try spans.foreach { s =>
      w.println(json(mutable.LinkedHashMap("id" -> s.id, "parent" -> parent(s.id),
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally w.close()
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - Trace.unionMs(
        children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))).sum
    }
  }
}
