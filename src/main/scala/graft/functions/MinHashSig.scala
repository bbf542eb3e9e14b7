package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Shared implementation: the full MinHash signature of one document's
  * token array, computed in a single pass per row.
  *
  * For each word n-gram (tokens joined with a single space), ONE md5
  * digest yields both Kirsch–Mitzenmacher bases: h1 = its first 60 bits
  * (hex chars 1-15), h2 = its second 60 bits (hex chars 17-31) — md5 is
  * this pipeline's dominant CPU cost, and the two halves of one digest
  * are as independent as two digests. The family
  * h_i = (h1 + i·(h2 >> 5)) & (2^60−1) updates `numHashes` running
  * minima. Grams are hashed straight from token bytes (no String
  * round-trip). Identical arithmetic to the DuckDB oracle
  * (`substr(md5(g), 1, 15)` / `substr(md5(g), 17, 15)` as BIGINT), so
  * signatures are hash-compare exact cross-engine.
  */
object MinHashImpl {
  private val Mask = (1L << 60) - 1

  def signature(toks: ArrayData, shingleSize: Int, numHashes: Int): ArrayData = {
    val out = Array.fill(numHashes)(Long.MaxValue)
    val m = toks.numElements()
    if (m >= shingleSize) {
      val tb = new Array[Array[Byte]](m)
      var i = 0
      while (i < m) { tb(i) = toks.getUTF8String(i).getBytes; i += 1 }
      i = 0
      while (i <= m - shingleSize) {
        val d = SimHashImpl.md5Gram(tb, i, shingleSize)
        val h1 = SimHashImpl.high60(d)
        val step = SimHashImpl.low60(d) >> 5
        var t = 0
        while (t < numHashes) {
          val v = (h1 + t * step) & Mask
          if (v < out(t)) out(t) = v
          t += 1
        }
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** Custom Catalyst expression: `minhash_sig(array<string>, n, k) ->
  * array<bigint>` — the whole MinHash signature as ONE narrow Project
  * over the scan.
  *
  * This is the 100 TB shape for signature building: embarrassingly
  * parallel per document, ZERO shuffle (the earlier explode → window →
  * aggregate formulation shuffled every token twice and paid multi-stage
  * scheduling that dominated the pipeline at bench scale). The band join
  * downstream shuffles only (doc_id, 32 longs).
  */
case class MinHashSig(child: Expression, shingleSize: Int, numHashes: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashImpl.signature(input.asInstanceOf[ArrayData], shingleSize, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashImpl.signature($c, $shingleSize, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private def builder(exprs: Seq[Expression]): MinHashSig = {
    Args.arity(exprs, 3, "minhash_sig(toks, shingleSize, numHashes)")
    MinHashSig(exprs.head,
      Args.intLit("minhash_sig", exprs, 1, "shingleSize"),
      Args.intLit("minhash_sig", exprs, 2, "numHashes"))
  }

  /** FunctionDescription for SparkSessionExtensions.injectFunction. */
  def descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sig"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[MinHashSig].getCanonicalName, "minhash_sig"),
      builder)
}
