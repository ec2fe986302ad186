package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.UrlFunctions
import graft.plans.UrlExpressions

class UrlExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def urls = {
    import spark.implicits._
    Seq(
      "http://www.example.com/a",
      "HTTP://Example.COM:80/x/../y;jsessionid=z?q=1",
      "https://sub.foo.co.uk/path",
      "not a url at all",
      null
    ).toDF("url")
  }

  test("native expressions match the pure Scala functions") {
    val got = urls
      .select(
        col("url"),
        UrlExpressions.url_hash64(col("url")).as("h"),
        UrlExpressions.normalize_url(col("url")).as("n"),
        UrlExpressions.extract_pld(col("url")).as("p"))
      .collect()
    got.foreach { r =>
      Option(r.getAs[String]("url")) match {
        case None =>
          assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
        case Some(u) =>
          assert(r.getAs[Long]("h") == UrlFunctions.urlHash64(u))
          assert(r.getAs[String]("n") == UrlFunctions.normalizeUrl(u))
          assert(r.getAs[String]("p") == UrlFunctions.extractPld(UrlFunctions.normalizeUrl(u))
            || r.getAs[String]("p") == UrlFunctions.extractPld(u))
      }
    }
  }

  test("runtime-registered SQL functions work and codegen survives volume") {
    UrlExpressions.register(spark)
    UrlExpressions.register(spark) // a second call replaces nothing
    import spark.implicits._
    // enough rows to force whole-stage codegen paths, not just interpreted
    val n = (1 to 10000).map(i => s"http://d$i.example.com/p$i").toDF("url")
    n.createOrReplaceTempView("urls_native_test")
    val agg = spark.sql(
      """SELECT count(distinct url_hash64(url)) AS dh,
        |       count(distinct extract_pld(url)) AS dp,
        |       count(normalize_url(url)) AS nn
        |FROM urls_native_test""".stripMargin).collect().head
    assert(agg.getAs[Long]("dh") == 10000)
    assert(agg.getAs[Long]("dp") == 1) // all under example.com
    assert(agg.getAs[Long]("nn") == 10000)
  }

  test("minhash_sig_native SQL registration matches the Column/UDF forms") {
    graft.plans.TextExpressions.register(spark)
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "short"),
      (3L, "another document with enough words to shingle nicely"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("mh_native_test")
    val viaSql = spark.sql(
      """SELECT doc_id, minhash_sig_native(text, 3, 16) AS sig
        |FROM mh_native_test""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val viaUdf = docs.select(col("doc_id"),
      graft.operators.TextOps.minhashSigUdf(3, 16)(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(viaSql == viaUdf)
    assert(viaSql(2L).forall(_ == null), "sub-shingle doc -> all-null sig")
  }

  test("GraftExtensions injects the full native surface into a fresh session") {
    import org.apache.spark.sql.SparkSession
    spark // force the shared context to exist first
    val oldDefault = SparkSession.getDefaultSession
    val oldActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // default/active cleared -> getOrCreate builds a NEW session over the
      // existing context, applying the extension exactly like a cluster-wide
      // spark.sql.extensions=graft.plans.GraftExtensions deployment
      val ext = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.plans.GraftExtensions())
        .getOrCreate()
      assert(ext ne spark, "sanity: must be a distinct session")
      val row = ext.sql(
        """SELECT
          |  url_hash64('http://a.com/x') AS h,
          |  normalize_url('HTTP://A.com/x') AS n,
          |  extract_pld('http://sub.a.com/p') AS p,
          |  surt_key('http://www.a.com:80/X/?b=2&a=1') AS surt,
          |  url_shape('http://a.b.com/x//y?p=1&q=2').path_depth AS depth,
          |  minhash_sig_native('a b c d e', 3, 4) AS sig,
          |  vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |          array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
          |  vec_lsh_bucket(array(CAST(0.5 AS FLOAT), CAST(-1.5 AS FLOAT)), 8) AS b,
          |  nfc_normalize_native(concat('cafe', '́')) AS nfc,
          |  zvalue2(3, 3) AS z2,
          |  zvalue3(1, 1, 1) AS z3
          |""".stripMargin).collect().head
      assert(row.getAs[Long]("h") == UrlFunctions.urlHash64("http://a.com/x"))
      assert(row.getAs[String]("n") == UrlFunctions.normalizeUrl("HTTP://A.com/x"))
      assert(row.getAs[String]("p") == "a.com")
      assert(row.getAs[String]("surt") == "com,a)/x?a=1&b=2")
      assert(row.getAs[Long]("depth") == 2L)
      val sig = graft.plans.TextCodegen.minhashSigArray("a b c d e", 3, 4).toSeq
      assert(row.getSeq[Any](row.fieldIndex("sig")) == sig)
      assert(row.getAs[Double]("d") == 11.0)
      val b = row.getAs[Long]("b")
      assert(b >= 0 && b < 256, s"8-plane bucket out of range: $b")
      // NFC: decomposed e + U+0301 composes to the single-char U+00E9
      assert(row.getAs[String]("nfc") == "caf" + '\u00e9',
        row.getAs[String]("nfc").map(_.toInt).mkString(","))
      assert(row.getAs[String]("nfc").length == 4)
      assert(row.getAs[Long]("z2") == 15L)
      assert(row.getAs[Long]("z3") == 7L)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      oldDefault.foreach(SparkSession.setDefaultSession)
      oldActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("vec_dot / vec_lsh_bucket runtime SQL registration matches Column forms") {
    graft.plans.VectorExpressions.register(spark)
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.1f, 0.2f, 0.3f), Array(0.4f, 0.5f, 0.6f)),
      (2L, Array(-1.0f, 0.0f, 1.0f), Array(1.0f, 1.0f, 1.0f)))
      .toDF("id", "a", "b")
    vecs.createOrReplaceTempView("vec_native_test")
    val viaSql = spark.sql(
      """SELECT id, vec_dot(a, b) AS d, vec_lsh_bucket(a, 16) AS k
        |FROM vec_native_test""".stripMargin)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val viaCol = vecs.select(col("id"),
      graft.plans.VectorExpressions.dot(col("a"), col("b")).as("d"),
      graft.plans.VectorExpressions.lshBucket(col("a"), 16).as("k"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(viaSql == viaCol)
  }

  test("hash distribution: no trivial collisions across a frontier sample") {
    import spark.implicits._
    val n = 50000
    val distinct = (1 to n).map(i => s"http://site$i.com/page$i").toDF("url")
      .select(UrlExpressions.url_hash64(col("url")).as("h"))
      .distinct().count()
    assert(distinct == n)
  }
}
