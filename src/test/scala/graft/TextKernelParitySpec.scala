package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** Value parity of the per-document text kernels (`TextOps.simhashes`,
  * `TextOps.gopherRepetition`) with the Spark-SQL formulations they
  * replaced: higher-order-function SimHash and the explode + aggregate +
  * join repetition stats. The oracle corpus is single-space-joined words,
  * so the tokenizer's edge cases (ASCII-space-only trim, tabs/newlines as
  * separators, leading and trailing empty tokens, non-ASCII text, empty
  * and null text) are pinned here instead. The reference formulations
  * live only in this spec.
  */
class TextKernelParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------- reference formulations

  private def refSimhashes(df: DataFrame, idCol: String, textCol: String) = {
    val simhash32Sql =
      s"""aggregate(transform(sequence(0, 31), b ->
         | CASE WHEN aggregate(hs, 0L, (acc, h) ->
         |     acc + (CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         |   THEN shiftleft(1L, b) ELSE 0L END),
         | 0L, (acc, x) -> acc + x)""".stripMargin.replaceAll("\n", " ")
    df.select(col(idCol).as("doc_id"),
      expr(s"array_distinct(${TextOps.tokensSql(textCol)})").as("toks"))
      .select(col("doc_id"),
        expr(s"transform(toks, s -> ${TextOps.hash32Sql("s")})").as("hs"))
      .select(col("doc_id"), expr(simhash32Sql).as("simhash"))
  }

  private def refGopherRepetition(
      df: DataFrame, idCol: String, textCol: String, w: Int) = {
    val base = df.select(col(idCol).as("doc_id"),
      expr(TextOps.tokensSql(textCol)).as("toks"))
    def gramStats(width: Int, dup: Boolean) = {
      val grams = base.filter(size(col("toks")) >= width)
        .select(col("doc_id"),
          explode(expr(s"transform(sequence(0, size(toks) - $width)," +
            s" i -> concat_ws(' ', slice(toks, i + 1, $width)))")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      if (dup)
        grams.groupBy("doc_id").agg(sum(col("c")).as("n_grams"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_grams"))
      else
        grams.groupBy("doc_id").agg(sum(col("c")).as("n_grams"),
          max(col("c")).as("top_gram"))
    }
    val bi = gramStats(2, dup = false)
      .select(col("doc_id"), col("n_grams").as("n_bigrams"),
        col("top_gram").as("top_bigram"))
    val win = gramStats(w, dup = true)
      .select(col("doc_id"), col("n_grams").as("n_windows"),
        col("dup_grams").as("dup_windows"))
    base.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(bi, Seq("doc_id"), "left")
      .join(win, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("top_bigram"), lit(0L)).as("top_bigram"),
        expr("(100 * coalesce(top_bigram, 0))" +
          " div greatest(coalesce(n_bigrams, 0), 1)").as("top_bigram_pct"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        expr("(100 * coalesce(dup_windows, 0))" +
          " div greatest(coalesce(n_windows, 0), 1)").as("dup_window_pct"))
  }

  // ------------------------------------------------------------ inputs

  private lazy val edgeDocs: DataFrame = Seq[(Long, String)](
    (1L, "alpha\tbeta\ngamma\r\ndelta\u000bepsilon\fzeta"),
    (2L, "   leading and trailing spaces   "),
    (3L, ""),
    (4L, "single"),
    (5L, "one two three four"),
    (6L, "naïve café 日本語 テキスト naïve café 日本語 テキスト naïve"),
    (7L, null),
    (8L, "\tleading tab keeps an empty first token"),
    (9L, "trailing newline keeps an empty last token\n"),
    (10L, "   "),
    (11L, "\t"),
    (12L, "double  spaced   words    here"),
    (13L, "nbsp\u00a0is not\u00a0whitespace to the tokenizer"),
    (14L, "x y x y x y x y x y x y x y"),
    (15L, "a b c d e a b c d e f a b c d e"),
    (16L, "emoji 😀 tokens 😀 emoji 😀 tokens 😀"),
    (17L, " \t mixed \n\n separators \t "),
    (18L, "x\t\ty x\ny x y"),
    (19L, "a a a a a a"),
    (20L, "Ωμέγα Ωμέγα Ωμέγα Ωμέγα Ωμέγα Ωμέγα Ωμέγα")
  ).toDF("doc_id", "text")

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  private def assertSameFrame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema,
      s"\n got ${got.schema}\nwant ${want.schema}")
    val (g, w) = (sorted(got), sorted(want))
    assert(g.length == w.length)
    g.zip(w).foreach { case (a, b) => assert(a == b, s"got $a want $b") }
  }

  // ------------------------------------------------------------- specs

  test("simhashes matches the HOF formulation on tokenizer edge cases") {
    assertSameFrame(TextOps.simhashes(edgeDocs, "doc_id", "text"),
      refSimhashes(edgeDocs, "doc_id", "text"))
  }

  test("gopherRepetition matches the explode/aggregate formulation on " +
    "tokenizer edge cases, for windows of 5, 3 and 1") {
    Seq(5, 3, 1).foreach { w =>
      assertSameFrame(TextOps.gopherRepetition(edgeDocs, "doc_id", "text", w),
        refGopherRepetition(edgeDocs, "doc_id", "text", w))
    }
  }

  test("with ANSI off, a null text's token count follows legacy size (-1)") {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val got = TextOps.gopherRepetition(edgeDocs, "doc_id", "text", 5)
      assertSameFrame(got, refGopherRepetition(edgeDocs, "doc_id", "text", 5))
      assert(got.filter(col("doc_id") === 7L).head().getAs[Long]("n_tokens") == -1L)
    } finally spark.conf.set(key, before)
  }

  test("both kernels match their reference on the sf0.001 documents") {
    val docs = graft.queries.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
    assertSameFrame(TextOps.simhashes(docs, "doc_id", "text"),
      refSimhashes(docs, "doc_id", "text"))
    assertSameFrame(TextOps.gopherRepetition(docs, "doc_id", "text", 5),
      refGopherRepetition(docs, "doc_id", "text", 5))
  }

  test("MinHash and the shingle UDF tokenize as split(trim(text), '\\s+')") {
    val k = 2
    val numHashes = 8
    val ref = edgeDocs.filter(col("text").isNotNull).select(col("doc_id"),
      expr(s"${TextOps.shinglesSql("text", k)}").as("sh"))
      .select(col("doc_id"), col("sh"),
        expr(s"transform(sh, s -> ${TextOps.hash32Sql("s")})").as("hs"))
    val got = edgeDocs.filter(col("text").isNotNull).select(col("doc_id"),
      TextOps.shingleUdf(k)(col("text")).as("sh"),
      TextOps.minhashSigUdf(k, numHashes)(col("text")).as("sig"))
    val want = ref.collect().map(r => r.getLong(0) -> r).toMap
    got.collect().foreach { r =>
      val w = want(r.getLong(0))
      assert(r.getSeq[String](1) == w.getSeq[String](1), s"doc ${r.getLong(0)}")
      val hs = w.getSeq[Long](2)
      val sig = (0 until numHashes).map { j =>
        val a = (j.toLong * 2654435761L + 1L) % 1000000007L
        if (hs.isEmpty) null
        else java.lang.Long.valueOf(hs.map(h => (a * h + j * 97L + 13L) % 1000000007L).min)
      }
      assert(r.getSeq[java.lang.Long](2) == sig, s"doc ${r.getLong(0)}")
    }
  }
}
