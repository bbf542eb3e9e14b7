package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Shared implementation for the exact-verify tail of the LSH pipelines:
  * per-document sorted distinct 60-bit shingle-hash sets, and one-pass
  * merge Jaccard between two such sets.
  *
  * The hash is the same md5-derived [[MinHashImpl]] 60-bit family the
  * signatures use, so the DuckDB oracle replays the hash sets
  * bit-identically (`CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)`)
  * — set Jaccard over the hashes equals set Jaccard over the grams, and
  * even a (cosmically unlikely) 60-bit collision reproduces identically
  * on both engines because both hash the same way.
  */
object ShingleHashImpl {

  /** Sorted distinct hash60 values of the word `shingleSize`-grams of a
    * token array. Empty when fewer than `shingleSize` tokens. */
  def shingleHashes(toks: ArrayData, shingleSize: Int): ArrayData = {
    val m = toks.numElements()
    if (m < shingleSize) return new GenericArrayData(Array.emptyLongArray)
    val n = m - shingleSize + 1
    val hs = new Array[Long](n)
    val tb = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) { tb(i) = toks.getUTF8String(i).getBytes; i += 1 }
    i = 0
    while (i < n) {
      hs(i) = SimHashImpl.high60(SimHashImpl.md5Gram(tb, i, shingleSize))
      i += 1
    }
    java.util.Arrays.sort(hs)
    // in-place dedupe of the sorted run
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == n) hs else java.util.Arrays.copyOf(hs, w))
  }

  /** Intersection size of two SORTED DISTINCT long arrays: one O(m+n)
    * merge, no per-row hash-set allocation. */
  def intersectCountSorted(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  /** Size of the THREE-WAY intersection of sorted distinct long arrays,
    * excluding `excl` — the ego-betweenness courier count
    * |N(u) ∩ N(v) ∩ N(z) \ {z}| as ONE O(na+nb+nc) merge over the
    * broadcast adjacency index, replacing a ~300 M-row three-join
    * courier stream plus two aggregations (r21; the triangle-counting
    * [[intersectCountSorted]] kernel extended one set deeper). */
  def intersect3CountSortedExcl(a: ArrayData, b: ArrayData, c: ArrayData,
      excl: Long): Long = {
    val na = a.numElements(); val nb = b.numElements()
    val nc = c.numElements()
    var i = 0; var j = 0; var k = 0; var inter = 0L
    while (i < na && j < nb && k < nc) {
      val x = a.getLong(i); val y = b.getLong(j); val z = c.getLong(k)
      if (x == y && y == z) {
        if (x != excl) inter += 1
        i += 1; j += 1; k += 1
      } else {
        // advance the smallest pointer(s)
        val m = math.min(x, math.min(y, z))
        if (x == m) i += 1
        if (y == m) j += 1
        if (z == m) k += 1
      }
    }
    inter
  }

  /** Set Jaccard of two SORTED DISTINCT long arrays: one O(m+n) merge, no
    * per-row hash-set allocation (the array_intersect/array_union
    * formulation built two hash sets per candidate pair). */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }
}

/** `shingle_hashes(array<string>, n) -> array<bigint>` — sorted distinct
  * md5-60-bit hashes of a document's word n-grams, as ONE codegen'd
  * expression per row (the transform+md5 HOF formulation is interpreted
  * and ~10× slower). Map-only: no shuffle; the verify join downstream
  * moves longs, never gram text. */
case class ShingleHashes(child: Expression, shingleSize: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashImpl.shingleHashes(input.asInstanceOf[ArrayData], shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashImpl.shingleHashes($c, $shingleSize)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private def builder(exprs: Seq[Expression]): ShingleHashes = {
    Args.arity(exprs, 2, "shingle_hashes(toks, shingleSize)")
    ShingleHashes(exprs.head,
      Args.intLit("shingle_hashes", exprs, 1, "shingleSize"))
  }

  /** FunctionDescription for SparkSessionExtensions.injectFunction. */
  def descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier("shingle_hashes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[ShingleHashes].getCanonicalName, "shingle_hashes"),
      builder)
}

/** `jaccard_sorted(array<bigint>, array<bigint>) -> double` — set Jaccard
  * of two sorted distinct hash arrays by linear merge. */
case class JaccardSorted(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard_sorted requires two array<bigint>, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ShingleHashImpl.jaccardSorted(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ShingleHashImpl.jaccardSorted($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

/** `intersect_count_sorted(array<bigint>, array<bigint>) -> bigint` —
  * size of the intersection of two SORTED DISTINCT long arrays by one
  * O(m+n) merge. The triangle-counting kernel: per oriented edge (s,t),
  * |N⁺(s) ∩ N⁺(t)| is the number of triangles the edge closes. */
case class IntersectCountSorted(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_sorted"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"intersect_count_sorted requires two array<bigint>, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ShingleHashImpl.intersectCountSorted(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ShingleHashImpl.intersectCountSorted($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}

/** `intersect3_count_sorted_excl(a, b, c, excl) -> bigint` — size of the
  * three-way intersection of SORTED DISTINCT long arrays minus the
  * element `excl`, by one linear merge. The ego-betweenness courier
  * kernel: per non-adjacent ego pair (u, v) of center z,
  * σ − 1 = |N(u) ∩ N(v) ∩ N(z) \ {z}|. */
case class Intersect3CountSortedExcl(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
  extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "intersect3_count_sorted_excl"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _),
          ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"intersect3_count_sorted_excl requires three array<bigint> and a " +
          s"bigint, got ${a.catalogString}, ${b.catalogString}, " +
          s"${c.catalogString}, ${d.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    ShingleHashImpl.intersect3CountSortedExcl(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      d.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.ShingleHashImpl.intersect3CountSortedExcl($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Intersect3CountSortedExcl =
    copy(first = a, second = b, third = c, fourth = d)
}

object Intersect3CountSortedExcl {
  private def builder(exprs: Seq[Expression]): Intersect3CountSortedExcl = {
    Args.arity(exprs, 4, "intersect3_count_sorted_excl(a, b, c, excl)")
    Intersect3CountSortedExcl(exprs.head, exprs(1), exprs(2), exprs(3))
  }

  /** FunctionDescription for SparkSessionExtensions.injectFunction. */
  def descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier(
      "intersect3_count_sorted_excl"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[Intersect3CountSortedExcl].getCanonicalName,
        "intersect3_count_sorted_excl"),
      builder)
}

object IntersectCountSorted {
  private def builder(exprs: Seq[Expression]): IntersectCountSorted = {
    Args.arity(exprs, 2, "intersect_count_sorted(a, b)")
    IntersectCountSorted(exprs.head, exprs(1))
  }

  /** FunctionDescription for SparkSessionExtensions.injectFunction. */
  def descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier("intersect_count_sorted"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[IntersectCountSorted].getCanonicalName,
        "intersect_count_sorted"),
      builder)
}

object JaccardSorted {
  private def builder(exprs: Seq[Expression]): JaccardSorted = {
    Args.arity(exprs, 2, "jaccard_sorted(a, b)")
    JaccardSorted(exprs.head, exprs(1))
  }

  /** FunctionDescription for SparkSessionExtensions.injectFunction. */
  def descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier("jaccard_sorted"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[JaccardSorted].getCanonicalName, "jaccard_sorted"),
      builder)
}
