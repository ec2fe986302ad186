package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads that start no Spark job. `spark.read.parquet` without a
  * schema runs a schema-inference job on every call (mergeSchema off
  * included); here the schema comes from one driver-side footer read,
  * metadata kept apart from data as in Dremel (VLDB 2020).
  */
object ParquetRead {

  /** Read `paths` (files, or dirs of part files) under the schema of the
    * first one. Each scan takes at most Spark's parallel-listing
    * threshold of paths: past it Spark lists them in a job of its own,
    * and a store's bucket dirs hold a file or two, so the driver lists
    * them faster.
    */
  def apply(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val reader = footerSchema(spark, paths.head).fold(spark.read)(spark.read.schema)
    val perScan = spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    paths.grouped(math.max(1, perScan)).map(reader.parquet(_: _*)).reduce(_ union _)
  }

  /** The schema Spark's inference job finds for `path`: the one Spark
    * recorded in the footer of its first data file when it wrote it, else
    * that file's parquet schema converted under the session conf (so
    * `spark.sql.legacy.parquet.nanosAsLong` and the other read confs
    * apply). None when `path` holds no data file.
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (!fs.exists(p)) None
      else if (fs.getFileStatus(p).isFile) Some(fs.getFileStatus(p))
      else fs.listStatus(p).find { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
    file.map { st =>
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, footer(conf, st.getPath)),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** One file's parquet footer, read under `conf`. The one-argument
    * `ParquetFileReader.open` builds default read options, which create
    * and parse a fresh Hadoop `Configuration` per call (about 10 ms a
    * footer against about 1 ms here).
    */
  def footer(conf: Configuration, p: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf, p).build())
    try r.getFooter finally r.close()
  }
}
