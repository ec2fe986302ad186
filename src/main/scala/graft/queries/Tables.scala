package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver's synthetic tables.
  *
  * `events.parquet` stores `ts` as parquet TIMESTAMP(NANOS) which Spark's
  * vectorized reader rejects by default; we flip the legacy nanos-as-long
  * read conf (safe at runtime — consulted per read) and rebuild a proper
  * microsecond timestamp column so downstream code sees a plain TIMESTAMP.
  */
object Tables {

  /** One table, read under the schema of its footer: no Spark job. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.util.ParquetRead(spark, Seq(s"$dir/$name.parquet"))

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    // driver parquet stores ts as TIMESTAMP(NANOS) (surfaced long by the
    // conf above); derived bench sets (tools.ScaleUp) store plain
    // TIMESTAMP(MICROS) — accept both
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
}
