package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 60-bit SimHash implementation shared by interpreted eval and generated
  * code. Each token is hashed to the first 60 bits of its md5 (identical
  * to [[graft.query.TokenHash.hash60]], which DuckDB reproduces as
  * `CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)` — this is what makes
  * the SimHash dedup pipeline hash-compare oracle-able cross-engine);
  * each of the 60 bit positions casts a ±1 vote per token occurrence; the
  * fingerprint sets bits with positive vote sums. Two documents'
  * fingerprints differ in few bits iff their token multisets mostly
  * overlap (Charikar 2002, public algorithm). 60 bits (not 64) keeps the
  * fingerprint positive in a signed BIGINT on both engines.
  */
object SimHashImpl {
  final val Bits = 60

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes): big-endian first 8 digest bytes >>> 4
    * (= the value of the first 15 hex chars of the md5 hex string). */
  def hash60(bytes: Array[Byte]): Long = high60(digest(bytes))

  /** Raw md5 digest of `bytes` (thread-local MessageDigest reuse). */
  def digest(bytes: Array[Byte]): Array[Byte] = {
    val d = md.get()
    d.reset()
    d.digest(bytes)
  }

  /** md5 digest of a word n-gram assembled directly from token byte
    * arrays joined by ' ' — no per-gram String/StringBuilder round-trip
    * (the hot path of MinHash signature building hashes every gram of
    * the corpus). */
  def md5Gram(tokenBytes: Array[Array[Byte]], start: Int, len: Int): Array[Byte] = {
    val d = md.get()
    d.reset()
    var j = 0
    while (j < len) {
      if (j > 0) d.update(' '.toByte)
      d.update(tokenBytes(start + j))
      j += 1
    }
    d.digest()
  }

  /** Value of hex chars 1-15 of the digest (first 60 bits). */
  def high60(h: Array[Byte]): Long = {
    val l =
      ((h(0) & 0xFFL) << 56) | ((h(1) & 0xFFL) << 48) |
      ((h(2) & 0xFFL) << 40) | ((h(3) & 0xFFL) << 32) |
      ((h(4) & 0xFFL) << 24) | ((h(5) & 0xFFL) << 16) |
      ((h(6) & 0xFFL) << 8) | (h(7) & 0xFFL)
    l >>> 4
  }

  /** Value of hex chars 17-31 of the digest (second 60 bits) — a second
    * independent 60-bit hash from the SAME md5 call; DuckDB reproduces it
    * as `CAST('0x' || substr(md5(s), 17, 15) AS BIGINT)`. */
  def low60(h: Array[Byte]): Long = {
    val l =
      ((h(8) & 0xFFL) << 56) | ((h(9) & 0xFFL) << 48) |
      ((h(10) & 0xFFL) << 40) | ((h(11) & 0xFFL) << 32) |
      ((h(12) & 0xFFL) << 24) | ((h(13) & 0xFFL) << 16) |
      ((h(14) & 0xFFL) << 8) | (h(15) & 0xFFL)
    l >>> 4
  }

  def simhash60(tokens: ArrayData): Long = {
    val votes = new Array[Int](Bits)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = hash60(tokens.getUTF8String(i).getBytes)
        var b = 0
        while (b < Bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < Bits) {
      if (votes(b) > 0) r |= (1L << b)
      b += 1
    }
    r
  }
}

/** Custom Catalyst expression: `simhash60(array<string>) -> bigint`.
  *
  * A scalar-per-row fold over a token array is awkward and slow to express
  * with built-in higher-order functions (60 bit-vote accumulators per row);
  * a native expression keeps it one tight loop INSIDE whole-stage codegen
  * (`doGenCode` emits a static call — no UDF serialization, no codegen
  * fallback). Preference order per SURVEY §7.6: built-ins failed the
  * expressibility test here, so this is tier (b): custom Expression.
  */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash60 requires array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SimHashImpl.simhash60(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashImpl.simhash60($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  /** FunctionDescription for SparkSessionExtensions.injectFunction. */
  def descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier("simhash60"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SimHash60].getCanonicalName, "simhash60"),
      exprs => SimHash60(Args.arity(exprs, 1, "simhash60(toks)").head))
}
