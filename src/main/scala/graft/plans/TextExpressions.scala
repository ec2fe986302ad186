package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Static per-document text kernels referenced from generated code (same
  * pattern as [[VectorCodegen]]), value-identical to their DuckDB oracles:
  * the md5-prefix token hash of `TextOps.hash32Sql`; SimHash and Gopher
  * repetition split text into exactly the tokens of `TextOps.tokensSql`.
  */
object TextCodegen {

  /** First 8 hex chars of md5 as an unsigned 32-bit value (the scalar twin
    * of `TextOps.hash32Sql`: md5 of UTF-8 bytes, first 4 bytes big-endian).
    */
  private def md5Hash32(md: java.security.MessageDigest, bytes: Array[Byte]): Long = {
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private val Separators = UTF8String.fromString("\\s+")

  /** `split(trim(text), '\\s+')` exactly as Spark evaluates it: only ASCII
    * spaces are trimmed, so a leading tab or a trailing newline yields an
    * empty first or last token, and an empty text is one empty token.
    */
  private def tokens(s: UTF8String): Array[UTF8String] =
    s.trim().split(Separators, -1)

  /** 32-bit SimHash of a document's distinct tokens: bit b is set when
    * more distinct tokens have bit b of their md5-prefix hash set than
    * clear (ties clear). A null text casts no vote and hashes to 0.
    */
  def simhash32(s: UTF8String): Long = {
    if (s == null) return 0L
    val md = md5.get()
    val seen = new java.util.HashSet[UTF8String]()
    val votes = new Array[Int](32)
    for (tok <- tokens(s) if seen.add(tok)) {
      val h = md5Hash32(md, tok.getBytes)
      var b = 0
      while (b < 32) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  /** Occurrence count of each distinct `width`-token gram of `ids` (token
    * ids, one per position). Tokens never contain a space, so equal id
    * sequences are exactly equal space-joined gram strings.
    */
  private def gramCounts(ids: Array[Int], width: Int): Iterable[Int] = {
    val counts = scala.collection.mutable.HashMap.empty[java.nio.IntBuffer, Int]
    for (i <- 0 to ids.length - width) {
      val gram = java.nio.IntBuffer.wrap(ids, i, width).slice()
      counts(gram) = counts.getOrElse(gram, 0) + 1
    }
    counts.values
  }

  /** Gopher within-document repetition of one text as the
    * [[GopherRepetitionExpr.Type]] row: token count; the most frequent
    * bigram's count and its percent of the bigrams; the occurrences of
    * `w`-token windows that repeat in the document and their percent of
    * the windows (integer percents, rounded down). A text with fewer than
    * 2 (resp. `w`) tokens has 0 bigram (resp. window) stats. A null text
    * has zeros and the token count `size` gives a null array: -1 under
    * `legacySizeOfNull`, else null.
    */
  def gopherRepetition(s: UTF8String, w: Int, legacySizeOfNull: Boolean): InternalRow = {
    if (s == null) {
      val nTokens = if (legacySizeOfNull) -1L else null
      return new GenericInternalRow(Array[Any](nTokens, 0L, 0L, 0L, 0L))
    }
    val toks = tokens(s)
    val n = toks.length
    val idOf = scala.collection.mutable.HashMap.empty[UTF8String, Int]
    val ids = toks.map(t => idOf.getOrElseUpdate(t, idOf.size))
    val topBigram = if (n >= 2) gramCounts(ids, 2).max.toLong else 0L
    val dupWindows =
      if (n >= w) gramCounts(ids, w).filter(_ >= 2).map(_.toLong).sum else 0L
    new GenericInternalRow(Array[Any](n.toLong,
      topBigram, 100 * topBigram / math.max(n - 1, 1),
      dupWindows, 100 * dupWindows / math.max(n - w + 1, 1)))
  }

  /** Distinct word k-shingles ("a b c") of a text in first-occurrence
    * order, over the tokens of `split(trim(text), '\\s+')` as Spark and
    * DuckDB split them ([[tokens]]).
    */
  def shingles(text: UTF8String, k: Int): Array[String] = {
    val toks = tokens(text).map(_.toString)
    if (toks.length < k) Array.empty[String]
    else toks.sliding(k).map(_.mkString(" ")).toArray.distinct
  }

  /** Whole signature for one document; `null` entries mean "no shingles"
    * (documents shorter than the shingle size), as the minimum of an empty
    * hash list is NULL in SQL.
    */
  def minhashSigArray(
      text: String, shingleK: Int, numHashes: Int): Array[java.lang.Long] =
    minhashSigOf(UTF8String.fromString(text), shingleK, numHashes)

  private def minhashSigOf(
      text: UTF8String, shingleK: Int, numHashes: Int): Array[java.lang.Long] = {
    val md = md5.get()
    val hs = shingles(text, shingleK).map(sh => md5Hash32(md, sh.getBytes("UTF-8")))
    Array.tabulate[java.lang.Long](numHashes) { j =>
      if (hs.isEmpty) null
      else {
        val a = (j.toLong * 2654435761L + 1L) % 1000000007L
        var min = Long.MaxValue
        var i = 0
        while (i < hs.length) {
          val v = (a * hs(i) + j * 97L + 13L) % 1000000007L
          if (v < min) min = v
          i += 1
        }
        java.lang.Long.valueOf(min)
      }
    }
  }

  /** Codegen entry point: UTF8String in, catalyst ArrayData out — no
    * encoder round-trip, no UDF null-handling wrapper.
    */
  def minhashSig(s: UTF8String, shingleK: Int, numHashes: Int): ArrayData = {
    val arr = minhashSigOf(s, shingleK, numHashes)
    val boxed = new Array[Any](arr.length)
    var i = 0
    while (i < arr.length) { boxed(i) = arr(i); i += 1 }
    new GenericArrayData(boxed)
  }

  /** Unicode NFC normalization (codegen entry point): composes combining
    * sequences to their canonical precomposed forms — the CCNet-style
    * text-canonicalization step that makes fingerprints and shingles
    * agree across sources that emit the same text in NFC vs NFD. The
    * already-normalized fast path (`isNormalized`) skips the rebuild,
    * which is the common case on crawled ASCII-heavy text.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** MinHash signature as a first-class Catalyst expression with whole-stage
  * codegen — the hot per-row kernel of the near-dup pipeline (q24/q25/q31)
  * runs as one generated call instead of a ScalaUDF with its input/output
  * encoder conversions. The per-document cost is O(shingles x numHashes)
  * either way; this removes the per-row wrapper overhead, which is what's
  * left at 100x scale.
  */
case class MinHashSigExpr(child: Expression, shingleK: Int, numHashes: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig_native"
  override protected def nullSafeEval(input: Any): Any =
    TextCodegen.minhashSig(input.asInstanceOf[UTF8String], shingleK, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.TextCodegen.minhashSig($c, $shingleK, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** Unicode NFC normalization as a codegen'd Catalyst expression (no
  * ScalaUDF wrapper in the canonicalization hot path); value-parity with
  * DuckDB's `nfc_normalize` is oracle-gated (q85).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StringType
  override def prettyName: String = "nfc_normalize_native"
  override protected def nullSafeEval(input: Any): Any =
    TextCodegen.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextCodegen.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** 32-bit SimHash of a text's distinct whitespace tokens
  * ([[TextCodegen.simhash32]]) as one codegen'd call per row, instead of
  * 32 interpreted per-bit `aggregate` lambdas over the token hashes.
  */
case class SimHash32Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  // never null; declared nullable to keep the `simhash` column's schema
  override def nullable: Boolean = true
  override def prettyName: String = "simhash32_native"
  override def eval(input: InternalRow): Any =
    TextCodegen.simhash32(child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      long ${ev.value} = graft.plans.TextCodegen.simhash32(
        ${c.isNull} ? null : ${c.value});""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): SimHash32Expr =
    copy(child = newChild)
}

/** Gopher within-document repetition stats of a text
  * ([[TextCodegen.gopherRepetition]]) as one codegen'd call per row: the
  * per-document gram counting never leaves its row, so it needs no
  * explode, shuffle, aggregate or join. `legacySizeOfNull` is captured at
  * construction, as `size` does, so a null text counts the tokens `size`
  * of a null array gives in this session (-1 or null).
  */
case class GopherRepetitionExpr(child: Expression, w: Int, legacySizeOfNull: Boolean)
  extends UnaryExpression {
  require(w >= 1, s"window width must be >= 1, got $w")
  override def dataType: DataType =
    GopherRepetitionExpr.Type(nTokensNullable = !legacySizeOfNull && child.nullable)
  override def nullable: Boolean = false
  override def prettyName: String = "gopher_repetition_native"
  override def eval(input: InternalRow): Any = TextCodegen.gopherRepetition(
    child.eval(input).asInstanceOf[UTF8String], w, legacySizeOfNull)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.plans.TextCodegen.gopherRepetition(
          ${c.isNull} ? null : ${c.value}, $w, $legacySizeOfNull);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): GopherRepetitionExpr =
    copy(child = newChild)
}

object GopherRepetitionExpr {
  /** Field nullability keeps `TextOps.gopherRepetition`'s column schema:
    * that of `size` of a possibly-null array for `n_tokens`, `coalesce`
    * for the counts, `div` for the percents (never null here).
    */
  def Type(nTokensNullable: Boolean): StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = nTokensNullable),
    StructField("top_bigram", LongType, nullable = false),
    StructField("top_bigram_pct", LongType, nullable = true),
    StructField("dup_windows", LongType, nullable = false),
    StructField("dup_window_pct", LongType, nullable = true)))
}

object TextExpressions {
  def simhash32(c: Column): Column =
    ColumnBridge.column(SimHash32Expr(ColumnBridge.expression(c)))

  def gopher_repetition(c: Column, w: Int): Column =
    ColumnBridge.column(GopherRepetitionExpr(
      ColumnBridge.expression(c), w, SQLConf.get.legacySizeOfNull))
  def minhash_sig(c: Column, shingleK: Int, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashSigExpr(ColumnBridge.expression(c), shingleK, numHashes))

  def nfc_normalize(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))

  /** SQL builder: `minhash_sig_native(text, shingleK, numHashes)` with
    * literal int parameters (shared by runtime registration and
    * [[GraftExtensions]] session-extension injection).
    */
  def sqlBuilder(exprs: Seq[Expression]): MinHashSigExpr =
    MinHashSigExpr(exprs.head,
      IntLiteral.of("minhash_sig_native", exprs(1)),
      IntLiteral.of("minhash_sig_native", exprs(2)))

  /** SQL surface (runtime registration, same contract as
    * [[UrlExpressions.register]]).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig_native", sqlBuilder _, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize_native", exprs => NfcNormalize(exprs.head), "scala_udf")
  }
}

/** Literal-int extraction for SQL function builders whose expressions take
  * compile-time parameters (shingle size, hash count, plane count).
  */
private[plans] object IntLiteral {
  def of(fn: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions
      .Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects literal int parameters, got $other")
  }
}
