package graft.tools

import org.apache.spark.sql.SparkSession

/** Focused per-query timer for optimization iteration: codegen warmup at
  * sf0.001 and block/cache hygiene between queries, as [[graft.Bench]]
  * does, over a NAMED subset. The timed action writes the whole result
  * to Spark's `noop` sink, so every column is computed (a `count()`
  * lets column pruning drop the projections a query defines).
  *
  * Args: <queryName>[,<queryName>...] [reps]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // config-tier A/B hook (r18): SPARK_GRAFT_CONF="k=v;k=v" applies
    // extra session confs for measurement runs ONLY — graft.Bench (the
    // driver's artifact of record) does not read it, so the driver's
    // bench stays comparable across rounds
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    extraConf.foreach { case (k, v) =>
      System.err.println(s"qtime-conf $k=$v") }
    spark.sparkContext.setLogLevel("WARN")
    val warmDir = "/root/testdata/sf0.001"
    def run(n: String, dir: String): Unit =
      graft.SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    names.foreach { n =>
      try run(n, warmDir)
      catch { case _: Throwable => }
    }
    graft.util.StageTimer.enabled = true
    def drop(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    (1 to reps).foreach { r =>
      names.foreach { n =>
        drop()
        graft.util.StageTimer.drain()
        val t0 = System.nanoTime()
        try run(n, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"qtime $n FAILED: ${e.getMessage}") }
        val sec = (System.nanoTime() - t0) / 1e9
        val st = graft.util.StageTimer.drain()
          .map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")
        println(f"qtime rep=$r $n%-24s $sec%7.3f s  $st")
      }
    }
    spark.stop()
  }
}
