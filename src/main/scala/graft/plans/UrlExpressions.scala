package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.UrlFunctions

/** Static URL kernels referenced from generated Java code (must be a plain
  * object with JVM-static-reachable methods). The string kernels are the
  * crawler's own [[UrlFunctions]], so SQL and the crawl loop share one
  * implementation.
  */
object UrlCodegen {
  /** FNV-1a over the UTF8String's bytes, as [[UrlFunctions.urlHash64]]. */
  def fnv1a64(s: UTF8String): Long = UrlFunctions.fnv1a64(s.getBytes)

  def normalize(s: UTF8String): UTF8String =
    UTF8String.fromString(UrlFunctions.normalizeUrl(s.toString))

  /** Null for a null url, as SQL functions go; a parsed url without a
    * host (e.g. `mailto:`) also gives null.
    */
  def extractPld(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(UrlFunctions.extractPld(s.toString))

  def surtKey(s: UTF8String): UTF8String =
    UTF8String.fromString(UrlFunctions.surtKey(s.toString))

  /** Occurrences of `c` in `b(from until until)`. */
  private def count(b: Array[Byte], from: Int, until: Int, c: Byte): Long =
    (from until until).count(b(_) == c).toLong

  /** The first index in `from until until` holding one of `cs`, else `until`. */
  private def indexOf(b: Array[Byte], from: Int, until: Int, cs: String): Int = {
    var i = from
    while (i < until && cs.indexOf(b(i)) < 0) i += 1
    i
  }

  /** [[UrlShapeExpr.Type]] features of one url in one scan of its UTF-8
    * bytes (a multi-byte character holds no ASCII byte, so byte scans see
    * what the old per-feature regexes saw): code-point length; host (what
    * follows a `scheme://` up to `/?#`) label count; non-empty segments of
    * the path that follows the host up to `?#`; `&`-separated parameters
    * after the first `?` up to `#`; ASCII digits as an integer percent of
    * the length. A null url has null length and percent, and the counts
    * `size` gives a null array: -1 under `legacySizeOfNull`, else null.
    */
  def urlShape(s: UTF8String, legacySizeOfNull: Boolean): InternalRow = {
    if (s == null) {
      val none = if (legacySizeOfNull) -1L else null
      return new GenericInternalRow(Array[Any](null, none, none, none, null))
    }
    val b = s.getBytes
    val n = b.length
    def isLetter(c: Byte) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    var i = 0
    if (n > 0 && isLetter(b(0))) {
      i = 1
      while (i < n && (isLetter(b(i)) || (b(i) >= '0' && b(i) <= '9') ||
        b(i) == '+' || b(i) == '.' || b(i) == '-')) i += 1
    }
    val hostStart = i + 3
    val hasScheme =
      i > 0 && hostStart <= n && b(i) == ':' && b(i + 1) == '/' && b(i + 2) == '/'
    val hostEnd = if (hasScheme) indexOf(b, hostStart, n, "/?#") else 0
    val hasHost = hasScheme && hostEnd > hostStart
    val hostLabels = if (hasHost) count(b, hostStart, hostEnd, '.') + 1 else 1L
    // the path starts with the '/' at hostEnd; count segment starts
    val pathEnd = if (hasHost) indexOf(b, hostEnd, n, "?#") else 0
    val depth = (hostEnd + 1 until pathEnd).count(k => b(k) != '/' && b(k - 1) == '/')
    val q = indexOf(b, 0, n, "?")
    val qEnd = if (q < n) indexOf(b, q + 1, n, "#") else n
    val params = if (q + 1 < qEnd) count(b, q + 1, qEnd, '&') + 1 else 0L
    val digits = b.count(c => c >= '0' && c <= '9').toLong
    val len = s.numChars().toLong
    new GenericInternalRow(Array[Any](
      len, hostLabels, depth.toLong, params, 100 * digits / math.max(len, 1L)))
  }
}

/** Native 64-bit URL hash with whole-stage codegen: the frontier key
  * function (SURVEY §2.14 urlHash64) as a first-class Catalyst expression —
  * no UDF boxing, works on UTF8String bytes directly.
  */
case class UrlHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "url_hash64"
  override protected def nullSafeEval(input: Any): Any =
    UrlCodegen.fnv1a64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.UrlCodegen.fnv1a64($c)")
  override protected def withNewChildInternal(newChild: Expression): UrlHash64 =
    copy(child = newChild)
}

/** URL normalization ([[UrlFunctions.normalizeUrl]]) as one codegen'd
  * call per row.
  */
case class NormalizeUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_url"
  override protected def nullSafeEval(input: Any): Any =
    UrlCodegen.normalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.UrlCodegen.normalize($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeUrl =
    copy(child = newChild)
}

/** Paid-level-domain extraction ([[UrlFunctions.extractPld]]) as one
  * codegen'd call per row; null when the url or its host is null.
  */
case class ExtractPld(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "extract_pld"
  override def eval(input: InternalRow): Any =
    UrlCodegen.extractPld(child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      UTF8String ${ev.value} = graft.plans.UrlCodegen.extractPld(
        ${c.isNull} ? null : ${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
  override protected def withNewChildInternal(newChild: Expression): ExtractPld =
    copy(child = newChild)
}

/** SURT archive index key ([[UrlFunctions.surtKey]]) as one codegen'd
  * call per row.
  */
case class SurtKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "surt_key"
  override protected def nullSafeEval(input: Any): Any =
    UrlCodegen.surtKey(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.UrlCodegen.surtKey($c)")
  override protected def withNewChildInternal(newChild: Expression): SurtKey =
    copy(child = newChild)
}

/** The URL-shape features of [[graft.operators.UrlQuality]]
  * ([[UrlCodegen.urlShape]]) as one codegen'd call per row, instead of
  * three regex extractions, a regex replace and a `filter` lambda.
  * `legacySizeOfNull` is captured at construction, as `size` does.
  */
case class UrlShapeExpr(child: Expression, legacySizeOfNull: Boolean)
  extends UnaryExpression {
  override def dataType: DataType = UrlShapeExpr.Type
  override def nullable: Boolean = false
  override def prettyName: String = "url_shape"
  override def eval(input: InternalRow): Any = UrlCodegen.urlShape(
    child.eval(input).asInstanceOf[UTF8String], legacySizeOfNull)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.plans.UrlCodegen.urlShape(
          ${c.isNull} ? null : ${c.value}, $legacySizeOfNull);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): UrlShapeExpr =
    copy(child = newChild)
}

object UrlShapeExpr {
  val Fields: Seq[String] =
    Seq("url_len", "n_host_labels", "path_depth", "n_params", "digit_pct")
  val Type: StructType = StructType(Fields.map(StructField(_, LongType)))
}

object UrlExpressions {

  def url_hash64(c: Column): Column =
    ColumnBridge.column(UrlHash64(ColumnBridge.expression(c)))
  def normalize_url(c: Column): Column =
    ColumnBridge.column(NormalizeUrl(ColumnBridge.expression(c)))
  def extract_pld(c: Column): Column =
    ColumnBridge.column(ExtractPld(ColumnBridge.expression(c)))
  def surt_key(c: Column): Column =
    ColumnBridge.column(SurtKey(ColumnBridge.expression(c)))
  def url_shape(c: Column): Column =
    ColumnBridge.column(UrlShapeExpr(
      ColumnBridge.expression(c), SQLConf.get.legacySizeOfNull))

  /** The SQL names and builders, shared by [[register]] and
    * [[GraftExtensions]].
    */
  private[plans] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("url_hash64", classOf[UrlHash64], es => UrlHash64(es.head)),
    ("normalize_url", classOf[NormalizeUrl], es => NormalizeUrl(es.head)),
    ("extract_pld", classOf[ExtractPld], es => ExtractPld(es.head)),
    ("surt_key", classOf[SurtKey], es => SurtKey(es.head)),
    ("url_shape", classOf[UrlShapeExpr],
      es => UrlShapeExpr(es.head, SQLConf.get.legacySizeOfNull)))

  /** Runtime registration for SQL use (no session restart needed). A name
    * the session already has is left as it is, so calling this again
    * replaces nothing.
    */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Session-extension wiring: `--conf spark.sql.extensions=
  * graft.plans.GraftExtensions` makes the library's whole native-function
  * surface — URL keys, the MinHash signature kernel, the vector kernels —
  * available in every session of the cluster without runtime registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    def inject(
        name: String, clazz: Class[_],
        builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        builder))
    UrlExpressions.builders.foreach { case (name, clazz, builder) =>
      inject(name, clazz, builder)
    }
    inject("minhash_sig_native", classOf[MinHashSigExpr],
      TextExpressions.sqlBuilder)
    inject("nfc_normalize_native", classOf[NfcNormalize],
      exprs => NfcNormalize(exprs.head))
    inject("vec_dot", classOf[DotProduct],
      exprs => DotProduct(exprs.head, exprs(1)))
    inject("vec_lsh_bucket", classOf[LshBucketExpr],
      VectorExpressions.lshSqlBuilder)
    inject("zvalue2", classOf[ZValue2Expr], ZOrderExpressions.sqlBuilder2)
    inject("zvalue3", classOf[ZValue3Expr], ZOrderExpressions.sqlBuilder3)
  }
}
