package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for vector similarity over `array<float>`
  * embedding columns (SURVEY.md §7.2 step 8).
  *
  * A native `Expression` here beats a Scala UDF by a wide margin at scale:
  * no boxing of 64 floats per row into WrappedArray, no encoder round-trip,
  * and the operator stays inside whole-stage codegen. Each kernel's loop
  * lives once, in `compute` on its companion object: `nullSafeEval` calls
  * it, and the generated code is one static call to it per row.
  * Accumulation is in double precision (widen-then-multiply) —
  * bit-deterministic left-to-right, independent of partitioning, so
  * results are reproducible across cluster sizes.
  */
abstract class VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
}

/** cosine_sim(a, b) = dot(a,b) / (||a|| * ||b||); 0.0 when either norm is 0.
  * Mismatched lengths are a data error → IllegalArgumentException (fail
  * loudly, never silently truncate a 100 TB scan).
  */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.expr.CosineSimilarity.compute($x, $y);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"cosine_sim: length mismatch ($n vs ${y.numElements()})")
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

/** dot_product(a, b) — same kernel without normalization (for pre-normalized
  * embeddings, the cheaper path: skip the two norm accumulators).
  */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.expr.DotProduct.compute($x, $y);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_product: length mismatch ($n vs ${y.numElements()})")
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }
}
