package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Static kernels referenced from generated code. All loops are sequential
  * left-folds in double, bit-identical to the higher-order-function form
  * (`aggregate(transform(...), 0.0, (s,v) -> s+v)`) and to DuckDB's
  * `list_reduce` — swapping these in changes nothing about results, only
  * removes per-element lambda interpretation and boxing.
  */
object VectorCodegen {

  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** Nearest-centroid assignment (IVF coarse quantization) as one tight
    * primitive loop per row — the hot kernel of `Similarity.ivfAssign`,
    * whose previous Scala-UDF form read every element as a BOXED
    * java.lang.Double (rows x centroids x dim unboxings — the dominant
    * cost of every IVF/ANN build at production centroid counts).
    * Arithmetic is IDENTICAL to the UDF: elements widened to double, vn
    * and the per-centroid dot are sequential double folds, cos =
    * s / (vn * cn), strict `>` keeps the smallest centroid id on ties
    * (centroids arrive sorted ascending, zero-norm ones already dropped).
    */
  def ivfAssignF(
      v: ArrayData, cents: Array[Array[Double]], ids: Array[Long],
      cns: Array[Double], dim: Int, isFloat: Boolean): Long = {
    val n = v.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"ivfAssign: vector has dim $n, expected $dim")
    var vn = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) throw new IllegalArgumentException(
        s"ivfAssign: null element at index $i of a $dim-dim vector")
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x; i += 1
    }
    vn = math.sqrt(vn)
    var bestId = ids(0)
    var best = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var s = 0.0
      var j = 0
      if (isFloat) while (j < dim) { s += v.getFloat(j).toDouble * cv(j); j += 1 }
      else while (j < dim) { s += v.getDouble(j) * cv(j); j += 1 }
      val cos = s / (vn * cns(c))
      if (cos > best) { best = cos; bestId = ids(c) }
      c += 1
    }
    bestId
  }

  /** Random-hyperplane LSH bucket: bit j is set iff the dot of `v` with
    * plane j is positive, summed in doubles over d in order. Plane j's
    * coefficient for dimension d is the deterministic pseudo-random
    * integer ((j*31 + d*17) mod 7) - 3, in [-3, 3]; the DuckDB oracle
    * strings of the LSH queries spell the same formula.
    */
  def lshBucketF(v: ArrayData, numPlanes: Int): Long = {
    val dim = v.numElements()
    var bucket = 0L
    var j = 0
    while (j < numPlanes) {
      var s = 0.0
      var d = 0
      while (d < dim) {
        s += v.getFloat(d).toDouble * (((j * 31 + d * 17) % 7) - 3)
        d += 1
      }
      if (s > 0) bucket += (1L << j)
      j += 1
    }
    bucket
  }
}

/** Dot product of two float/double array columns with whole-stage codegen —
  * the hot kernel of cosine similarity search.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
          (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dot needs two array<float> or two array<double>, got " +
            s"${left.dataType} / ${right.dataType}")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (isFloat) VectorCodegen.dotFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else VectorCodegen.dotDD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "dotFF" else "dotDD"
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorCodegen.$fn($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid (IVF) assignment of a float/double-array column with
  * whole-stage codegen; the centroid matrix/ids/norms ride along as
  * reference objects (driver-bounded — the same bound their broadcast in
  * the UDF closure already implied). See [[VectorCodegen.ivfAssignF]] for
  * the arithmetic contract.
  */
case class IvfAssignExpr(
    child: Expression, cents: Array[Array[Double]], ids: Array[Long],
    cns: Array[Double], dim: Int) extends UnaryExpression {

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_ivf_assign"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_ivf_assign needs array<float> or array<double>, got $t")
    }

  override protected def nullSafeEval(input: Any): Any =
    VectorCodegen.ivfAssignF(
      input.asInstanceOf[ArrayData], cents, ids, cns, dim, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
    val cnsRef = ctx.addReferenceObj("cns", cns, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.VectorCodegen.ivfAssignF($c, $centsRef, $idsRef, " +
        s"$cnsRef, $dim, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfAssignExpr =
    copy(child = newChild)
}

/** LSH bucket id of a float-array column (codegen). */
case class LshBucketExpr(child: Expression, numPlanes: Int)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_lsh_bucket"

  override protected def nullSafeEval(input: Any): Any =
    VectorCodegen.lshBucketF(input.asInstanceOf[ArrayData], numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.VectorCodegen.lshBucketF($c, $numPlanes)")

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}

object VectorExpressions {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def norm(a: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(dot(a, a))
  }

  def lshBucket(a: Column, numPlanes: Int): Column =
    ColumnBridge.column(LshBucketExpr(ColumnBridge.expression(a), numPlanes))

  def ivfAssign(a: Column, cents: Array[Array[Double]], ids: Array[Long],
      cns: Array[Double], dim: Int): Column =
    ColumnBridge.column(IvfAssignExpr(
      ColumnBridge.expression(a), cents, ids, cns, dim))

  /** SQL builder: `vec_lsh_bucket(vec, numPlanes)`, literal plane count. */
  def lshSqlBuilder(exprs: Seq[Expression]): LshBucketExpr =
    LshBucketExpr(exprs.head, IntLiteral.of("vec_lsh_bucket", exprs(1)))

  /** SQL surface for the vector kernels (runtime registration, same
    * contract as [[UrlExpressions.register]]).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "vec_dot", exprs => DotProduct(exprs.head, exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "vec_lsh_bucket", lshSqlBuilder _, "scala_udf")
  }
}
