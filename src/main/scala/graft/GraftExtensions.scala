package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{FloatVecDot, Intersect3CountSortedExcl, IntersectCountSorted, JaccardSorted, JlProject, MinHashSig, ShingleHashes, SignLshSigs, SimHash60}

/** Session extensions: registers the engine's nine custom Catalyst
  * expressions (`simhash60`, `float_dot`, `minhash_sig`, `shingle_hashes`,
  * `jaccard_sorted`, `sign_lsh_sigs`, `jl_project`,
  * `intersect_count_sorted`, `intersect3_count_sorted_excl`) so SQL and
  * `expr(...)` users get them in any session built with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * No custom resolution rules or planner strategies are injected: SURVEY
  * §7.6's audit found none required for parity — every reference operator
  * maps to built-in plans; the custom surface is scalar expressions only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(e.injectFunction)
}

object GraftExtensions {
  private val descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    SimHash60.descriptor,
    FloatVecDot.descriptor,
    MinHashSig.descriptor,
    ShingleHashes.descriptor,
    JaccardSorted.descriptor,
    SignLshSigs.descriptor,
    JlProject.descriptor,
    IntersectCountSorted.descriptor,
    Intersect3CountSortedExcl.descriptor)

  /** Imperative registration for an already-built session (what the query
    * layer calls): installs only the functions the session's registry
    * does not already hold, so repeat calls neither replace a function
    * nor log the registry's replacement warning. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    // the registry's own lock makes check-then-install atomic
    registry.synchronized {
      descriptors.foreach { case (id, info, builder) =>
        if (!registry.functionExists(id))
          registry.registerFunction(id, info, builder)
      }
    }
  }
}
