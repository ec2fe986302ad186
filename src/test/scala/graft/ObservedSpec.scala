package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.util.Observed

class ObservedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("observed metrics: SQL null reads 0; a missing key or a non-number throws") {
    val empty = Observation()
    spark.range(0).observe(empty, sum(col("id")).as("s")).collect()
    assert(Observed.long(empty, "s") == 0L)

    val obs = Observation()
    spark.range(3).observe(obs, sum(col("id")).as("s"), count(lit(1)).as("n"),
      avg(col("id")).as("mean"), max(lit("x")).as("str")).collect()
    assert(Observed.long(obs, "s") == 3L)
    assert(Observed.long(obs, "n") == 3L)
    assert(Observed.number(obs, "mean").doubleValue() == 1.0)
    intercept[IllegalStateException](Observed.long(obs, "missing"))
    intercept[IllegalStateException](Observed.long(obs, "str"))
  }
}
