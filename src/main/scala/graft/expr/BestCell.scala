package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** best_cell(embedding) → struct(csim: double, cent_id: int): the nearest
  * centroid by cosine, ties to the LOWEST cent_id — the per-row argmax at
  * the heart of IVF cell assignment and every Lloyd k-means round.
  *
  * Exists for the same reason as [[LshProbes]]: the composed form —
  * `array_max(transform(<centroid literal>, c → struct(cosine_sim(...))))`
  * — routes through higher-order functions (codegen-fallback, interpreted
  * per element) over boxed literal arrays, paying two orders of magnitude
  * over a dedicated kernel on the hottest scan in the similarity family.
  * Here the centroid matrix rides along as primitive `float[][]` (model
  * state, serialized once per task binary), centroid norms are precomputed
  * at construction (the composed form re-derived ‖c‖ per row per cell),
  * and the k·dim loop lives once, in [[BestCell.compute]]: `nullSafeEval`
  * calls it, and the generated code calls it once per row inside the same
  * whole-stage-codegen stage as the scan, with the model arrays passed as
  * reference objects.
  *
  * Semantics pinned to the composed form it replaces: csim is
  * `cosine_sim` exactly (0.0 when either norm is 0 — a zero-norm embedding
  * assigns to the lowest cent_id with csim 0.0, as before), `ids` must
  * arrive sorted ascending, comparison is `Double.compare` so the ordering
  * matches Spark's (NaN greatest — a NaN-poisoned embedding assigns to the
  * LOWEST cent_id like the old array_max did, instead of vanishing into a
  * phantom cell; 0.0 above -0.0), ties keep the lowest id, and
  * accumulation is left-to-right in double — same bits as the composed
  * evaluation ([[graft.functions.SimilarityOps.bestCellCol]] constructs
  * it; PlanSpec pins single evaluation in the production plan).
  *
  * Params are Seqs (structural equality) so Catalyst canonicalization and
  * subexpression elimination see two kernels over the same model as equal;
  * the primitive views the loops run over are derived once below.
  */
case class BestCell(child: Expression, ids: Seq[Int], cents: Seq[Seq[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  require(ids.nonEmpty && ids.length == cents.length,
    s"best_cell: ${ids.length} ids vs ${cents.length} centroids")
  require(ids.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
    "best_cell: ids must be strictly ascending (tie-break contract)")
  require(cents.map(_.length).distinct.sizeIs == 1,
    "best_cell: centroids must share one dimension")

  @transient private lazy val idsArr: Array[Int] = ids.toArray
  @transient private lazy val centsArr: Array[Array[Float]] = cents.map(_.toArray).toArray

  override def prettyName: String = "best_cell"
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("csim", DoubleType, nullable = false),
    StructField("cent_id", IntegerType, nullable = false)))
  override def nullIntolerant: Boolean = true

  /** ‖c‖ per centroid, computed once (not per row per cell). */
  @transient private lazy val norms: Array[Double] = centsArr.map { c =>
    var ny = 0.0; var i = 0
    while (i < c.length) { ny += c(i).toDouble * c(i).toDouble; i += 1 }
    math.sqrt(ny)
  }

  override def nullSafeEval(a: Any): Any =
    BestCell.compute(a.asInstanceOf[ArrayData], centsArr, idsArr, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("bestCellCents", centsArr, "float[][]")
    val idsRef = ctx.addReferenceObj("bestCellIds", idsArr, "int[]")
    val normsRef = ctx.addReferenceObj("bestCellNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.expr.BestCell.compute($x, $centsRef, $idsRef, $normsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BestCell {
  /** The nearest of `cents` (with precomputed `norms`) to `x` by cosine:
    * struct(csim, cent_id) with the tie and NaN rules above. */
  def compute(x: ArrayData, cents: Array[Array[Float]], ids: Array[Int],
      norms: Array[Double]): InternalRow = {
    val n = x.numElements()
    if (n != cents(0).length)
      throw new IllegalArgumentException(
        s"best_cell: embedding dim $n != centroid dim ${cents(0).length}")
    var nx = 0.0
    var i = 0
    while (i < n) { val xi = x.getFloat(i).toDouble; nx += xi * xi; i += 1 }
    val xnorm = math.sqrt(nx)
    var bestSim = Double.NegativeInfinity
    var bestId = ids(0)
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      var dot = 0.0; var j = 0
      while (j < n) { dot += x.getFloat(j).toDouble * ct(j); j += 1 }
      val sim = if (xnorm == 0.0 || norms(c) == 0.0) 0.0 else dot / (xnorm * norms(c))
      // Double.compare ordering = Spark's: NaN greatest, 0.0 above -0.0;
      // strict > keeps the lowest id on true ties (ids ascend)
      if (c == 0 || java.lang.Double.compare(sim, bestSim) > 0) {
        bestSim = sim; bestId = ids(c)
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestSim, bestId))
  }
}
