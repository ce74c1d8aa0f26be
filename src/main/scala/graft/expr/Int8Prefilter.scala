package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DoubleType, FloatType}

/** Int8 candidate-pair prefilter for the banded similarity/dedup verify
  * stage (r9 verdict #1).
  *
  * The banded LSH routes (`sim_pairs_threshold`, `dedup_embedding_cosine`)
  * generate Θ(Σ|bucket|²) candidate id pairs and verify each with a
  * 64-float cosine — at 100 TB the verify multiply and the float-array
  * shuffle payload are the path's dominant cost. These kernels cut both
  * WITHOUT changing a single output row:
  *
  *  - [[Int8Enc]] (`int8_enc(embedding)`) encodes each vector ONCE, in the
  *    narrow scan, into a compact blob: d int8 codes (symmetric per-vector
  *    quantization, scale = max|x|/127) plus two packed doubles — the code
  *    norm ‖q‖ and a PROVABLE per-vector cosine error margin.
  *  - [[Int8Keep]] (`int8_keep(b1, b2, θ)`) decides, from two blobs alone,
  *    whether a pair can possibly have float cosine ≥ θ. Pairs it rejects
  *    are GUARANTEED below θ; survivors are re-scored with the exact
  *    `cosine_sim` float kernel, so the final answer is bit-identical to
  *    the unfiltered path (ExactnessSpec / Int8PrefilterSpec pin this).
  *
  * Each kernel's loop lives once, in `compute` on its companion object
  * (`Int8Enc.compute`, `Int8Est.compute`, `Int8Keep.compute`, the pair
  * kernels sharing `Int8Blob.dimOf` and `codeDot`): `nullSafeEval` calls
  * it, and the generated code is one static call to it per row.
  *
  * Why the estimate needs no scales: with x̂ = s·q the dequantized vector,
  * cos(x̂₁, x̂₂) = (s₁s₂·q₁·q₂)/(s₁‖q₁‖·s₂‖q₂‖) = (q₁·q₂)/(‖q₁‖‖q₂‖) — the
  * per-vector scales cancel, so the pair-time work is one int8 dot product
  * (exact in int64: |Σ qᵢqⱼ| ≤ d·127² ≪ 2⁶³) and one double divide.
  *
  * Why the margin is sound: for unit directions u = x/‖x‖, û = x̂/‖x̂‖,
  *   |cos(x₁,x₂) − cos(x̂₁,x̂₂)| = |⟨u₁,u₂⟩ − ⟨û₁,û₂⟩|
  *     ≤ ‖u₁−û₁‖ + ‖u₂−û₂‖          (add/subtract ⟨û₁,u₂⟩, Cauchy-Schwarz)
  *   and ‖u−û‖ ≤ 2‖x−x̂‖/‖x‖          (standard normalized-difference bound).
  * So margin m = 2‖x−x̂‖/‖x‖ per vector, with ‖x−x̂‖ computed EXACTLY at
  * encode time (not the worst-case s·√d/2 bound — rounding residuals
  * average s/√12 per element, making the computed margin ~3× tighter).
  * `int8_keep` keeps iff est ≥ θ − m₁ − m₂ − 1e-9; the 1e-9 slack swallows
  * the ~1e-14 double-rounding of est and both norms. A rejected pair
  * therefore has true cosine < θ, and the float verify the survivors go
  * through is the SAME expression the unfiltered path runs.
  *
  * Degenerate inputs defer to the float verify instead of deciding:
  * a zero vector encodes margin = +∞ (cos is undefined there; the exact
  * path's own null/NaN semantics must win), and a NaN element yields a NaN
  * margin which `int8_keep` treats as "keep". Rejection is the only
  * decision this filter ever makes, and it only makes it when provable.
  *
  * NOTE the quantization here is deliberately NOT bit-coupled to the
  * `sim_quantize_int8` audit query (which must replay in DuckDB): the
  * prefilter is invisible to every oracle — only its two-sided bound
  * matters — so it uses the cheaper Math.round (round-half-even-free)
  * form. The blob never leaves a single query's shuffle, so platform-
  * independent big-endian packing is a one-time 16-byte cost per vector.
  */
object Int8Blob {
  /** Slack absorbing double rounding of est/norms vs real arithmetic. */
  val Eps = 1e-9

  def putDouble(out: Array[Byte], off: Int, v: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(v)
    var k = 0
    while (k < 8) { out(off + k) = (bits >>> (56 - 8 * k)).toByte; k += 1 }
  }

  def readDouble(b: Array[Byte], off: Int): Double = {
    var bits = 0L
    var k = 0
    while (k < 8) { bits = (bits << 8) | (b(off + k) & 0xFFL); k += 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** ‖q‖ of the packed codes (blob tail, byte length-16). */
  def qnorm(b: Array[Byte]): Double = readDouble(b, b.length - 16)

  /** Provable cosine error margin 2‖x−x̂‖/‖x‖ (blob tail, length-8). */
  def margin(b: Array[Byte]): Double = readDouble(b, b.length - 8)

  /** Length-checked code dimension; blobs must come from the same encoder.
    * `fn` names the calling kernel in the error. */
  def dimOf(fn: String, b1: Array[Byte], b2: Array[Byte]): Int = {
    if (b1.length != b2.length || b1.length < 16)
      throw new IllegalArgumentException(
        s"$fn: blob mismatch (${b1.length} vs ${b2.length} bytes)")
    b1.length - 16
  }

  /** The int8 code dot product, exact in int64. */
  def codeDot(b1: Array[Byte], b2: Array[Byte], d: Int): Long = {
    var dot = 0L
    var i = 0
    while (i < d) { dot += (b1(i) * b2(i)).toLong; i += 1 }
    dot
  }
}

/** int8_enc(embedding) → binary blob [d code bytes | ‖q‖ | margin]. */
case class Int8Enc(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "int8_enc"
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = Int8Enc.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = graft.expr.Int8Enc.compute($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int8Enc {
  def compute(x: ArrayData): Array[Byte] = {
    val n = x.numElements()
    val out = new Array[Byte](n + 16)
    var maxAbs = 0f
    var i = 0
    while (i < n) { val v = math.abs(x.getFloat(i)); if (v > maxAbs) maxAbs = v; i += 1 }
    val s = maxAbs.toDouble / 127.0
    var qq = 0.0; var errsq = 0.0; var xx = 0.0
    i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      var qi = 0L
      if (s != 0.0) {
        qi = math.round(xi / s)
        if (qi > 127L) qi = 127L else if (qi < -127L) qi = -127L
      }
      out(i) = qi.toByte
      val dq = qi.toDouble
      qq += dq * dq
      val diff = xi - s * dq
      errsq += diff * diff
      xx += xi * xi
      i += 1
    }
    Int8Blob.putDouble(out, n, math.sqrt(qq))
    Int8Blob.putDouble(out, n + 8,
      if (xx == 0.0) Double.PositiveInfinity else 2.0 * math.sqrt(errsq) / math.sqrt(xx))
    out
  }
}

/** Shared input types of [[Int8Est]] / [[Int8Keep]]. */
abstract class Int8PairExpression extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BinaryType, BinaryType)
  override def nullIntolerant: Boolean = true
}

/** int8_est(b1, b2) → estimated cosine (q₁·q₂)/(‖q₁‖‖q₂‖); NaN when either
  * vector quantized to all-zero codes (only a zero input vector does).
  * Diagnostic/spec surface — the deployed filter is [[Int8Keep]].
  */
case class Int8Est(left: Expression, right: Expression) extends Int8PairExpression {
  override def prettyName: String = "int8_est"
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    Int8Est.compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b1, b2) => s"${ev.value} = graft.expr.Int8Est.compute($b1, $b2);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Int8Est {
  def compute(b1: Array[Byte], b2: Array[Byte]): Double = {
    val d = Int8Blob.dimOf("int8_est", b1, b2)
    Int8Blob.codeDot(b1, b2, d).toDouble / (Int8Blob.qnorm(b1) * Int8Blob.qnorm(b2))
  }
}

/** int8_keep(b1, b2, θ) → false only when the pair's float cosine is
  * PROVABLY < θ (est + margins below θ); true otherwise, including every
  * degenerate encoding (zero vector → +∞ margin, NaN element → NaN margin)
  * so the exact float verify downstream keeps sole authority over edge
  * semantics. See [[Int8Blob]] for the soundness argument.
  */
case class Int8Keep(left: Expression, right: Expression, theta: Double)
    extends Int8PairExpression {
  override def prettyName: String = "int8_keep"
  override def dataType: DataType = BooleanType

  override def nullSafeEval(a: Any, b: Any): Any =
    Int8Keep.compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], theta)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b1, b2) =>
      s"${ev.value} = graft.expr.Int8Keep.compute($b1, $b2, ${theta}D);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Int8Keep {
  def compute(b1: Array[Byte], b2: Array[Byte], theta: Double): Boolean = {
    val d = Int8Blob.dimOf("int8_keep", b1, b2)
    val qn1 = Int8Blob.qnorm(b1); val m1 = Int8Blob.margin(b1)
    val qn2 = Int8Blob.qnorm(b2); val m2 = Int8Blob.margin(b2)
    if (qn1 == 0.0 || qn2 == 0.0 || m1.isNaN || m2.isNaN) true
    else {
      val est = Int8Blob.codeDot(b1, b2, d).toDouble / (qn1 * qn2)
      est >= theta - m1 - m2 - Int8Blob.Eps
    }
  }
}
