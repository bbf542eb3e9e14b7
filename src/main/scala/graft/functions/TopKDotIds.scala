package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact k-nearest-ids of one query vector against a BROADCAST corpus
  * matrix, computed entirely inside a single expression eval: one tight
  * flat-array loop over n·dim floats per row, maintaining a k-slot
  * (dot DESC, id ASC) selection — no pair rows exist anywhere in the
  * plan. The brute-force reverse-kNN workload drops from an n²-row
  * cross join (4·10⁸ rows at sf0.1) to n expression evals.
  *
  * Exactness: the inner product accumulates left-to-right in double —
  * bit-identical to [[VecOpsImpl.dotFF]] (and therefore to the DuckDB
  * `list_dot_product(DOUBLE[])` oracle); the selection compares the
  * full double against the (dot, id) total order, so results match the
  * `row_number` window form exactly.
  *
  * Scale gate: valid only while the corpus matrix broadcasts (the same
  * precondition the cross-join form already had via `broadcast(q)`);
  * [[graft.query.Similarity.embHubnessStats]] gates on matrix bytes and
  * falls back to the map-side-combinable [[TopKByScore]] aggregation.
  * CodegenFallback is deliberate: the per-eval loop IS the hot loop —
  * there is no per-row expression chain left for codegen to fuse. */
case class TopKDotIds(left: Expression, right: Expression,
    ids: Broadcast[Array[Long]], mat: Broadcast[Array[Float]],
    dim: Int, k: Int) extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "topk_dot_ids"

  override protected def nullSafeEval(e: Any, q: Any): Any = {
    val emb = e.asInstanceOf[ArrayData]
    val self = q.asInstanceOf[Long]
    val corpusIds = ids.value
    val m = mat.value
    val n = corpusIds.length
    // query vector into a flat double array once per eval
    val qv = new Array[Double](dim)
    var i = 0
    while (i < dim) { qv(i) = emb.getFloat(i).toDouble; i += 1 }
    // k-slot insertion selection, kept sorted by (dot DESC, id ASC)
    val ts = new Array[Double](k)
    val ti = new Array[Long](k)
    var size = 0
    var j = 0
    while (j < n) {
      val id = corpusIds(j)
      if (id != self) {
        var s = 0.0
        var off = j * dim
        i = 0
        while (i < dim) { s += m(off).toDouble * qv(i); off += 1; i += 1 }
        if (size < k || s > ts(size - 1) ||
            (s == ts(size - 1) && id < ti(size - 1))) {
          // insertion position: after every strictly-better slot
          var p = if (size < k) size else size - 1
          while (p > 0 && (ts(p - 1) < s || (ts(p - 1) == s && ti(p - 1) > id))) {
            ts(p) = ts(p - 1); ti(p) = ti(p - 1); p -= 1
          }
          ts(p) = s; ti(p) = id
          if (size < k) size += 1
        }
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(ti, size))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TopKDotIds = copy(left = newLeft, right = newRight)
}
