package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** A query workload: passes over a fixed list of `SparkEntry.queries`,
  * each result fully materialized through Spark's `noop` sink, one client
  * in a closed loop. The seed sets the query order of every pass.
  *
  * The first pass is the warm-up and the correctness dump: each result is
  * written as parquet for the oracle comparison, outside the timed
  * region. Every pass also observes each result's row count and an
  * order-independent digest; every timed pass must repeat the first
  * pass's values.
  */
object QueryWorkload {

  final case class QueryTime(query: String, pass: Int, traced: Boolean,
      startMs: Double, endMs: Double) {
    def wallMs: Double = endMs - startMs
  }

  final case class Outcome(
      order: Seq[String], passes: Seq[QueryTime],
      times: Seq[QueryTime], attempted: Long, misses: Seq[String])

  private def digest(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val row = to_json(struct(df.columns.toSeq.map(c => col(s"`$c`")): _*))
    (df.observe(obs, count(lit(1)).as("n"),
      sum(pmod(xxhash64(row), lit(2147483647L))).as("h")), obs)
  }

  private def observed(obs: Observation): (Long, Long) = {
    val m = obs.get
    (m("n").asInstanceOf[Long], Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  def run(spark: SparkSession, queries: Seq[String], dataDir: String,
      verifyDir: String, seconds: Double, seed: Long,
      tracing: Option[Tracing], setupDone: () => Unit): Outcome = {
    val order = Main.random(seed).shuffle(queries)
    val entry = graft.SparkEntry.queries
    val expected = mutable.HashMap.empty[String, (Long, Long)]
    val misses = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    order.foreach { q =>
      Main.step(s"warm-up query $q") {
        val (df, obs) = digest(entry(q)(spark, dataDir), s"w-$q")
        df.write.mode("overwrite").parquet(s"$verifyDir/$q")
        expected(q) = observed(obs)
        attempted += 1
      }
    }
    setupDone()

    val times = mutable.ArrayBuffer.empty[QueryTime]
    val passes = mutable.ArrayBuffer.empty[QueryTime]
    val deadline = Trace.now() + seconds * 1000
    // traced runs interleave untraced and traced passes as u t t u, so the
    // two medians see the same warm-up trend and give the tracing overhead;
    // untraced runs make at least two passes (the first still warms up);
    // a pass starts only if at least half of it fits before the deadline
    val minPasses = if (tracing.isDefined) 4 else 2
    var pass = 0
    while (pass < minPasses ||
        Trace.now() + passes.last.wallMs / 2 < deadline) {
      val traced = tracing.isDefined && (pass % 4 == 1 || pass % 4 == 2)
      def onePass(): Unit = {
        val p0 = Trace.now()
        order.foreach { q =>
          Main.step(s"pass $pass query $q") {
            val t0 = Trace.now()
            val (df, obs) = digest(entry(q)(spark, dataDir), s"p$pass-$q")
            df.write.format("noop").mode("overwrite").save()
            val t1 = Trace.now()
            attempted += 1
            val got = observed(obs)
            if (got != expected(q))
              misses += s"$q pass $pass: rows/digest $got != first pass ${expected(q)}"
            times += QueryTime(q, pass, traced, t0, t1)
            if (traced) Trace.record("query", q, t0, t1)
          }
        }
        val p1 = Trace.now()
        passes += QueryTime("pass", pass, traced, p0, p1)
        if (traced) Trace.record("pass", s"pass-$pass", p0, p1)
      }
      if (!traced) onePass()
      else {
        tracing.get.start()
        try onePass() finally tracing.get.stop()
      }
      pass += 1
    }

    Outcome(order, passes.toSeq, times.toSeq, attempted, misses.toSeq)
  }
}
