package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** Analysis-time argument checks shared by the custom function builders:
  * a wrong argument count or a non-literal INT parameter would otherwise
  * surface as an opaque IndexOutOfBounds / NoSuchElement / NPE /
  * ClassCastException out of the builder or eval(). */
private[functions] object Args {

  /** `exprs` after checking that there are exactly `n` of them; `sig` is
    * the call signature the error names, e.g. `"jl_project(emb, outDim)"`. */
  def arity(exprs: Seq[Expression], n: Int, sig: String): Seq[Expression] = {
    if (exprs.size != n) throw new IllegalArgumentException(
      s"$sig takes $n argument${if (n == 1) "" else "s"}, got ${exprs.size}")
    exprs
  }

  /** The value of argument `pos` of function `fn`, which must be a
    * non-NULL INT literal (`name` is the parameter the error names). */
  def intLit(fn: String, exprs: Seq[Expression], pos: Int,
      name: String): Int = {
    val e = exprs(pos)
    if (!e.foldable || e.dataType != org.apache.spark.sql.types.IntegerType)
      throw new IllegalArgumentException(
        s"$fn argument $pos ($name) must be an INT literal, " +
          s"got ${e.dataType.catalogString} (foldable=${e.foldable}): $e")
    e.eval() match {
      case i: Int => i
      case null => throw new IllegalArgumentException(
        s"$fn argument $pos ($name) must not be NULL")
    }
  }
}
