package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.ParquetRead

/** The driver-side parquet reader: the schema of one footer instead of
  * Spark's schema-inference job, so a table read starts no Spark job and
  * every query frame builds without one.
  */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every fixture table reads with no job under the schema Spark infers") {
    // events stores TIMESTAMP(NANOS), which Spark reads only as a long
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tables = new java.io.File(sf).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10)
    tables.foreach { path =>
      val (df, jobs) = JobsDuring(spark)(ParquetRead(spark, Seq(path)))
      assert(jobs == 0, path)
      val inferred = spark.read.parquet(path).schema
      assert(df.schema == inferred, path) // nullability included
    }
  }

  test("a Spark-written dir reads its recorded schema, nested and decimal") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("parquet-read").toString
    Seq((1L, "a", Seq(1.5f)), (2L, "b", Seq.empty[Float])).toDF("id", "s", "v")
      .select(col("id"), struct(col("s"), col("v")).as("st"),
        lit(BigDecimal("1.50")).cast("decimal(10,2)").as("score"))
      .repartition(2).write.parquet(s"$dir/t")
    val (df, jobs) = JobsDuring(spark)(ParquetRead(spark, Seq(s"$dir/t")))
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(s"$dir/t").schema)
    assert(df.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L))
  }

  test("building each queries_kernels frame starts no job") {
    Seq("q14_url_normalize", "q26_simhash", "q32_surt_key", "q75_span_excision",
      "q91_url_quality", "q92_gopher_rep", "q95_parse_text", "q96_robots_rules")
      .foreach { q =>
        val (_, jobs) = JobsDuring(spark)(SparkEntry.queries(q)(spark, sf))
        assert(jobs == 0, q)
      }
  }
}
