package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Shared implementation: ALL banded sign-LSH signatures of one embedding
  * in a single pass per row — `numTables` hash tables of `bits` sign bits
  * each, packed as one long per table.
  *
  * Hyperplane component (t, i, j) is the md5-derived uniform
  * hash60("t:i:j") / 2^59 − 1 — the SAME doubles the DuckDB oracle
  * computes — and each dot product is a sequential double fold in
  * ascending index order, bit-identical to `list_dot_product` over
  * `CAST(embedding AS DOUBLE[])`. Planes are built once per
  * (numTables, bits, dim) and cached JVM-wide (they are pure functions
  * of the seed strings, shared by every session and task).
  */
object SignLshImpl {
  private val planeCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int), Array[Array[Double]]]()

  /** planes(t·bits + i)(j) for tables t, bits i, components j. */
  def planes(numTables: Int, bits: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((numTables, bits, dim), _ =>
      Array.tabulate(numTables * bits) { q =>
        val t = q / bits
        val i = q % bits
        Array.tabulate(dim) { j =>
          SimHashImpl.hash60(s"$t:$i:$j".getBytes(StandardCharsets.UTF_8))
            .toDouble / 576460752303423488.0 - 1.0 // 2^59
        }
      })

  def sigs(emb: ArrayData, numTables: Int, bits: Int): ArrayData = {
    val dim = emb.numElements()
    val ps = planes(numTables, bits, dim)
    // widen once: every dot is a double fold over the same components
    val v = new Array[Double](dim)
    var j = 0
    while (j < dim) { v(j) = emb.getFloat(j).toDouble; j += 1 }
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var sig = 0L
      var i = 0
      while (i < bits) {
        val p = ps(t * bits + i)
        var s = 0.0
        var k = 0
        while (k < dim) { s += v(k) * p(k); k += 1 }
        if (s >= 0) sig |= (1L << i)
        i += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** Custom Catalyst expression: `sign_lsh_sigs(array<float>, tables, bits)
  * -> array<bigint>` — the whole multi-table signature as ONE narrow,
  * codegen'd Project over the scan (the Column-API formulation carried
  * numTables·bits literal 64-double plane arrays through the plan and
  * evaluated as many separate float_dot calls per row). Map-only; the
  * bucket self-join downstream shuffles (vec_id, table, sig) longs. */
case class SignLshSigs(child: Expression, numTables: Int, bits: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_lsh_sigs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_lsh_sigs requires array<float>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SignLshImpl.sigs(input.asInstanceOf[ArrayData], numTables, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SignLshImpl.sigs($c, $numTables, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SignLshSigs =
    copy(child = newChild)
}

object SignLshSigs {
  private def intLit(exprs: Seq[Expression], pos: Int, name: String): Int = {
    if (exprs.size != 3) throw new IllegalArgumentException(
      s"sign_lsh_sigs(emb, tables, bits) takes 3 arguments, got ${exprs.size}")
    val e = exprs(pos)
    if (!e.foldable || e.dataType != org.apache.spark.sql.types.IntegerType)
      throw new IllegalArgumentException(
        s"sign_lsh_sigs argument $pos ($name) must be an INT literal, " +
          s"got ${e.dataType.catalogString} (foldable=${e.foldable}): $e")
    e.eval() match {
      case i: Int => i
      case null => throw new IllegalArgumentException(
        s"sign_lsh_sigs argument $pos ($name) must not be NULL")
    }
  }

  private def builder(exprs: Seq[Expression]): SignLshSigs =
    SignLshSigs(exprs.head,
      intLit(exprs, 1, "numTables"),
      intLit(exprs, 2, "bits"))

  /** FunctionDescription for SparkSessionExtensions.injectFunction. */
  def descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier("sign_lsh_sigs"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SignLshSigs].getCanonicalName, "sign_lsh_sigs"),
      builder)
}
