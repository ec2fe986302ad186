package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per job tag (`SparkContext.addJobTag`): Spark jobs, the jobs among
  * them outside any SQL execution (work no query plan accounts for, such
  * as parquet schema inference or a parallel file listing), and SQL
  * executions.
  */
final class JobsByTag extends SparkListener {
  final class Counts {
    val jobs = new AtomicInteger(0)
    val outsideSql = new AtomicInteger(0)
    val sql = new AtomicInteger(0)
    override def toString: String =
      s"jobs=${jobs.get} outsideSql=${outsideSql.get} sql=${sql.get}"
  }
  private val byTag = new ConcurrentHashMap[String, Counts]()
  def counts(tag: String): Counts = byTag.computeIfAbsent(tag, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val inSql = props.exists(_.getProperty(SQLExecution.EXECUTION_ID_KEY) != null)
    props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).filter(_.nonEmpty).foreach { t =>
        counts(t).jobs.incrementAndGet()
        if (!inSql) counts(t).outsideSql.incrementAndGet()
      }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobTags.foreach(t => counts(t).sql.incrementAndGet())
    case _ =>
  }
}

/** Spark jobs started from this thread while `body` runs. */
object JobsDuring {
  def apply[A](spark: org.apache.spark.sql.SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-during-${java.util.UUID.randomUUID()}"
    val jobs = new JobsByTag
    sc.addSparkListener(jobs)
    sc.addJobTag(tag)
    try {
      val a = body
      org.apache.spark.TestBus.drain(sc)
      (a, jobs.counts(tag).jobs.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(jobs)
    }
  }
}
