package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Johnson–Lindenstrauss random projection of one embedding to `outDim`
  * dimensions in a single codegen'd pass per row — the standard lever
  * that cuts brute-force / IVF re-rank cost by dim_in/dim_out at corpus
  * scale while approximately preserving inner products (JL lemma;
  * distortion ~ O(sqrt(log n / outDim))).
  *
  * Projection component (jj, i) is the md5-derived uniform
  * hash60("jl:jj:i") / 2^59 − 1 — the SAME doubles a SQL oracle can
  * recompute — and each output coordinate is a sequential double fold
  * in ascending component order, bit-identical to `list_dot_product`
  * over `CAST(embedding AS DOUBLE[])` against the same plane. Planes
  * are built once per (outDim, dim) and cached JVM-wide (pure
  * functions of the seed strings, shared by every session and task).
  */
object JlProjectImpl {
  private val planeCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int), Array[Array[Double]]]()

  /** planes(jj)(i) for output coordinates jj, input components i. */
  def planes(outDim: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((outDim, dim), _ =>
      Array.tabulate(outDim) { jj =>
        Array.tabulate(dim) { i =>
          SimHashImpl.hash60(s"jl:$jj:$i".getBytes(StandardCharsets.UTF_8))
            .toDouble / 576460752303423488.0 - 1.0 // 2^59
        }
      })

  def project(emb: ArrayData, outDim: Int): ArrayData = {
    val dim = emb.numElements()
    val ps = planes(outDim, dim)
    // widen once: every coordinate is a double fold over the same components
    val v = new Array[Double](dim)
    var j = 0
    while (j < dim) { v(j) = emb.getFloat(j).toDouble; j += 1 }
    val out = new Array[Double](outDim)
    var jj = 0
    while (jj < outDim) {
      val p = ps(jj)
      var s = 0.0
      var k = 0
      while (k < dim) { s += v(k) * p(k); k += 1 }
      out(jj) = s
      jj += 1
    }
    new GenericArrayData(out)
  }
}

/** Custom Catalyst expression: `jl_project(array<float>, outDim) ->
  * array<double>` — the whole reduced-dimension vector as ONE narrow,
  * codegen'd Project over the scan (a Column-API formulation would carry
  * outDim literal 64-double plane arrays through the plan and evaluate
  * as many interpreted HOF folds per row). Map-only; downstream ranking
  * shuffles nothing extra. */
case class JlProject(child: Expression, outDim: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "jl_project"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"jl_project requires array<float>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    JlProjectImpl.project(input.asInstanceOf[ArrayData], outDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.JlProjectImpl.project($c, $outDim)")

  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object JlProject {
  private def intLit(exprs: Seq[Expression]): Int = {
    if (exprs.size != 2) throw new IllegalArgumentException(
      s"jl_project(emb, outDim) takes 2 arguments, got ${exprs.size}")
    val e = exprs(1)
    if (!e.foldable || e.dataType != org.apache.spark.sql.types.IntegerType)
      throw new IllegalArgumentException(
        "jl_project argument 1 (outDim) must be an INT literal, " +
          s"got ${e.dataType.catalogString} (foldable=${e.foldable}): $e")
    e.eval() match {
      case i: Int => i
      case null => throw new IllegalArgumentException(
        "jl_project argument 1 (outDim) must not be NULL")
    }
  }

  private def builder(exprs: Seq[Expression]): JlProject =
    JlProject(exprs.head, intLit(exprs))

  /** FunctionDescription for SparkSessionExtensions.injectFunction. */
  def descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier("jl_project"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[JlProject].getCanonicalName, "jl_project"),
      builder)
}
