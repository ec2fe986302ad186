package graft

import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.crawl.FrontierStore
import graft.schema.CrawlStateUrl

/** The store at `root` merged with its pending WAL batches, read the way
  * a crawl round reads it: [[FrontierStore.ownedRows]] over `parts`
  * owners, as a Dataset (so an action on it runs in a SQL execution, as
  * the round's pass does). `buckets` must be the store's bucket count.
  */
object FrontierRows {
  def apply(spark: SparkSession, root: String, buckets: Int,
      parts: Int = 4): Dataset[CrawlStateUrl] = {
    import spark.implicits._
    val sc = spark.sparkContext
    spark.createDataset(FrontierStore.ownedRows(spark, root, parts, buckets,
      sc.broadcast(new SerializableWritable(sc.hadoopConfiguration))))
  }
}
