package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Shared implementation for interpreted eval and generated code: dot
  * product of two vectors (each side float or double), accumulated in
  * double, sequential left-to-right fold — bit-identical to DuckDB's
  * list_dot_product over DOUBLE[] (verified against the oracle) and to
  * the `aggregate(zip_with(...))` builtin composition it replaces. */
object VecOpsImpl {
  def dot(a: ArrayData, b: ArrayData): Double = dotFF(a, b)

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

  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    s
  }

  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)

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
}

/** Custom Catalyst expression: `float_dot(array<float>, array<float>) ->
  * double`.
  *
  * The built-in composition `aggregate(zip_with(a, b, *), 0d, +)` is
  * correct but interpreted (higher-order functions are CodegenFallback):
  * at 64 dims × millions of rows the lambda dispatch dominates. This
  * expression is one tight loop inside whole-stage codegen — the ANN
  * scan stays vectorizable. (SURVEY §7.6 tier (b): custom Expression
  * where built-ins can't express the performance, not the semantics.)
  */
case class FloatVecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot requires (array<float|double>, array<float|double>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  // one tight loop per element-type combination; resolved at plan time so
  // the generated code stays branch-free per row
  private def impl: String = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => "dotFF"
    case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) => "dotFD"
    case (ArrayType(DoubleType, _), ArrayType(FloatType, _)) => "dotDF"
    case _ => "dotDD"
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    impl match {
      case "dotFF" => VecOpsImpl.dotFF(x, y)
      case "dotFD" => VecOpsImpl.dotFD(x, y)
      case "dotDF" => VecOpsImpl.dotDF(x, y)
      case _ => VecOpsImpl.dotDD(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOpsImpl.$impl($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FloatVecDot = copy(left = newLeft, right = newRight)
}

object FloatVecDot {
  /** FunctionDescription for SparkSessionExtensions.injectFunction. */
  def descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier("float_dot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[FloatVecDot].getCanonicalName, "float_dot"),
      exprs => FloatVecDot(exprs(0), exprs(1)))
}
