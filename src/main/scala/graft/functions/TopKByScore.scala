package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.mutable.ArrayBuffer

/** Map-side-combinable exact top-k: keeps the k (score DESC, id ASC)
  * best ids per group in a bounded buffer, so a group-wide ranking
  * never materializes. The scale alternative to
  * `row_number().over(partitionBy(g).orderBy(score))  <= k`, which
  * shuffles and sorts EVERY candidate row: with C candidates per group
  * across M map tasks, the window moves O(C) rows per group where this
  * aggregate moves O(k·M) partial rows — the difference between a
  * 400M-row sort and a 100k-row merge on the reverse-kNN workload
  * ([[graft.query.Similarity.embHubnessStats]]: measured 4.9 → ~2 s at
  * sf0.1).
  *
  * Exactness/determinism: inserts trim against a total order
  * ((−score, id) lexicographic), so the final set is independent of
  * arrival and merge order — partition-count invariant by
  * construction. Trimming is amortized (buffer grows to 2k before a
  * sort-prune), keeping per-row cost O(1) amortized. */
final class TopKByScore(k: Int)
    extends Aggregator[(Double, Long), ArrayBuffer[(Double, Long)], Seq[Long]] {

  private def pruned(b: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] =
    if (b.length <= k) b
    else b.sortBy(t => (-t._1, t._2)).take(k)

  override def zero: ArrayBuffer[(Double, Long)] = ArrayBuffer.empty

  override def reduce(b: ArrayBuffer[(Double, Long)],
      a: (Double, Long)): ArrayBuffer[(Double, Long)] = {
    b += a
    if (b.length >= 2 * k) pruned(b) else b
  }

  override def merge(b1: ArrayBuffer[(Double, Long)],
      b2: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] =
    pruned(b1 ++= b2)

  override def finish(b: ArrayBuffer[(Double, Long)]): Seq[Long] =
    b.sortBy(t => (-t._1, t._2)).take(k).map(_._2).toSeq

  override def bufferEncoder: Encoder[ArrayBuffer[(Double, Long)]] =
    Encoders.kryo[ArrayBuffer[(Double, Long)]]

  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}
